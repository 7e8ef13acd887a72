"""Query registry: named Spark queries + their exact DuckDB SQL oracles.

Each entry is a named operator demonstration from SURVEY.md §2 (the
reference's dataflow operators re-expressed Spark-first) or a
training-data pipeline operator (dedup / similarity / text analysis /
multimodal).  The driver runs the Spark query and the oracle SQL
side-by-side on the same parquet tables and compares row count, schema,
and value hash — so every computed column here is aliased identically on
both sides, and all float-order-sensitive arithmetic is made exact
(decimal sums, integer-quantized vectors, md5-derived integer hashes).

Reference parity notes cite /root/reference file:line in each docstring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import dedup as D
from .functions import multimodal as M
from .functions import similarity as S
from .functions import sketches as K
from .functions import text as X
from .operators.extraction import (
    extract_articles,
    page_metadata,
    render_spans_to_html,
)
from .pipeline import (
    DECONTAM_BENCH_IDS,
    DECONTAM_N,
    PIPE_SHUFFLE_SEED,
    QF_MAX_TOP_WORD,
    QF_MIN_QUALITY,
    QF_MIN_TOKENS,
    QF_MIN_TTR,
    SPLIT_BUCKETS,
    SPLIT_TRAIN_LT,
    SPLIT_VAL_LT,
    _quality_metrics,
    _quality_reason_expr,
    curation_verdicts,
)
from .sources.synth import _CLOSING_P

Query = Callable[[SparkSession, str], DataFrame]


# Tables whose per-row work is CPU (regex/array/Arrow kernels over
# text or float vectors), so a compressed-bytes-sized scan starves the
# cluster — see operators/parallelism.py.  The numeric ``events`` table
# scans wide enough on its own and shuffles on its window and agg keys
# immediately anyway.
_CPU_TABLES = frozenset({"documents", "embeddings"})


def table_size_bytes(spark, path: str) -> int | None:
    """Compressed on-disk size of ``path`` via the Hadoop FileSystem
    API (works for local, HDFS, and object stores alike); None if the
    path cannot be summed (size hints are best-effort)."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(p).getLength())
    except Exception:
        return None


def table_row_count(path: str) -> int | None:
    """Row count from parquet FOOTER metadata (no data read) — the
    signal compressed bytes cannot give on highly compressible text.
    Local-filesystem paths only in this sandbox; a production catalog
    (Iceberg/Hive) serves the same number from table statistics.
    None if footers cannot be read (hints are best-effort)."""
    try:
        import os

        import pyarrow.parquet as pq

        if os.path.isdir(path):
            total = 0
            for name in os.listdir(path):
                if name.endswith(".parquet"):
                    total += pq.read_metadata(
                        os.path.join(path, name)
                    ).num_rows
            return total
        return pq.read_metadata(path).num_rows
    except Exception:
        return None


def load(
    spark: SparkSession, sf_dir: str, name: str, floor: bool = True
) -> DataFrame:
    """Read a testdata table; for the CPU-per-row tables apply the
    compute-parallelism floor (operators/parallelism.py) unless the
    caller opts out with ``floor=False`` — right for LOOP-dominated
    consumers (PageRank, anchor aggregation, Bloom build) whose
    checkpointed loop tables would inherit the widened non-AQE-
    coalescible partitioning every iteration and pay task-launch
    overhead that dwarfs the scan-CPU win (A/B-measured at both sf0.1
    and sf10)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if floor and name in _CPU_TABLES:
        from .operators.parallelism import (
            ensure_compute_parallelism,
            table_fingerprint,
        )

        # fingerprint in the memo key: a table regenerated at the same
        # path (scale-up corpus replication, test fixtures) must
        # re-derive its floor width, not inherit the stale decision
        # (review r4)
        df = ensure_compute_parallelism(
            df,
            cache_key=f"{path}|{table_fingerprint(path)}",
            size_bytes=table_size_bytes(spark, path),
            rows=table_row_count(path),
        )
    return df


# ---------------------------------------------------------------------------
# Dataflow operators (SURVEY.md §2.2): curation funnel and aggregates
# ---------------------------------------------------------------------------


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set curation verdict — the Dolma pattern
    (Soldaini et al. 2024): every filter computes its attribute
    INDEPENDENTLY over the corpus (quality rules, exact-dup canonical,
    MinHash near-dup cluster canonical, benchmark contamination,
    split assignment), and one final mix decision folds them by fixed
    priority into a per-document status:

        benchmark → quality:<reason> → exact_dup → near_dup →
        contaminated → kept:<split>

    Independent attributes (rather than sequential re-filtering) is
    the at-scale shape: each annotation pass is the already-verified
    operator with its own optimal plan, the verdict join is thin
    doc_id-keyed equi-joins AQE can co-partition, and changing one
    rule's threshold re-runs one attribute, not the whole funnel.
    (Consequence, documented: a near-dup cluster keeps its min-id
    canonical even if that canonical later fails quality — Dolma
    semantics, not sequential-sieve semantics.)  The oracle composes
    the SAME component oracle SQL texts as CTEs, so the funnel can
    only disagree if the composition itself drifts."""
    return curation_verdicts(load(spark, sf_dir, "documents"))


HIST_BIN_WIDTH = 16  # token-count histogram bin width


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram quantiles: per-source p50/p90/p99
    of token counts estimated from ``HIST_BIN_WIDTH``-wide bins — the
    bounded-memory, partial-aggregable shape that replaces the exact
    buffering percentile at 100 TB (``corpus_percentiles`` documents
    ``percentile_approx`` as the drop-in, but a t-digest cannot be
    oracle-checked exactly; this estimator CAN).  All integer: bin =
    n_toks / width, quantile estimate = midpoint of the smallest bin
    whose cumulative count reaches ceil(q·n).  Bin-count tables merge
    by summation across waves/partitions (the HLL-register property),
    and the per-source state is at most max_tokens/width rows."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    bins = (
        docs.select(
            "source",
            (X.token_count(F.col("text")) / F.lit(HIST_BIN_WIDTH))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bins.select(
        "source",
        "bin",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("source")).alias("n"),
    )
    mid = F.col("bin") * HIST_BIN_WIDTH + HIST_BIN_WIDTH // 2
    qs = []
    for name, num, den in (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)):
        # cum ≥ ceil(q·n)  ⇔  cum·den ≥ n·num (exact integers)
        qs.append(
            F.min(
                F.when(F.col("cum") * den >= F.col("n") * num, mid)
            ).alias(name)
        )
    return cum.groupBy("source").agg(*qs)


def q_windowed_event_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming module's watermarked tumbling-window aggregation
    run in batch (identical plan; see streaming/ingest.py) — hour
    windows per user."""
    from .streaming.ingest import windowed_event_rates

    ev = load(spark, sf_dir, "events")
    rates = windowed_event_rates(ev)
    return rates.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "user_id",
        "n_events",
    )


def _synth_url() -> F.Column:
    """Deterministic messy URL per document (JVM-side concat) used by
    the URL-operator demos: mixed-case scheme/host, query, fragment."""
    return F.concat(
        F.lit("HTTPS://WWW."),
        F.upper(F.col("source")),
        F.lit(".Example.COM/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/index.html?utm=x#Section-2"),
    )


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 URL normalization (crawler.py:435-450): lowercase
    scheme+host, drop fragment — pure string expressions."""
    docs = load(spark, sf_dir, "documents")
    url = _synth_url()
    no_frag = F.regexp_replace(url, "#.*$", "")
    normalized = F.concat(
        F.lower(F.regexp_extract(no_frag, "^([^/]+//[^/]+)", 1)),
        F.regexp_replace(no_frag, "^[^/]+//[^/]+", ""),
    )
    return docs.select(
        "doc_id", url.alias("raw_url"), normalized.alias("norm_url")
    )


def q_url_normalize_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 rich URL normalizer (discovery.py:787-813 _normalize_url):
    drop fragment, lowercase the scheme (urlparse does), keep netloc
    case AS-IS (this variant does not lowercase the host — the
    crawler.py:435-450 variant in ``url_normalize`` does), strip the
    query (allow_querystrings=False), default path '/', and return NULL
    for non-http(s) schemes (the reference returns None)."""
    docs = load(spark, sf_dir, "documents")
    raw = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://Host-"),
                F.col("doc_id").cast("string"),
                F.lit(".Example.COM"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://h.example.com/a/"),
                F.col("doc_id").cast("string"),
                F.lit("?x=1#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("ftp://files.example.com/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("mailto:user-"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            )
        )
    )
    no_frag = F.regexp_replace(raw, "#.*$", "")
    scheme = F.lower(
        F.regexp_extract(no_frag, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    )
    netloc = F.regexp_extract(no_frag, "^[A-Za-z0-9+.-]+://([^/?#]*)", 1)
    path = F.regexp_extract(
        no_frag, "^[A-Za-z0-9+.-]+://[^/?#]*([^?#]*)", 1
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    keep = scheme.isin("http", "https")
    norm = F.when(
        keep, F.concat(scheme, F.lit("://"), netloc, path)
    ).otherwise(F.lit(None).cast("string"))
    return docs.select(
        "doc_id", raw.alias("raw_url"), norm.alias("norm_url")
    )


# The reference's complete non-HTML asset-extension skip list
# (discovery.py:819-855).  The values are the spec — parity with the
# reference's URL filtering is impossible without them.  Shared by the
# Spark query and its DuckDB oracle so the two can never drift.
NON_HTML_EXTENSIONS: tuple[str, ...] = (
    ".css", ".js", ".json", ".xml", ".txt", ".pdf", ".zip", ".tar",
    ".gz", ".png", ".jpg", ".jpeg", ".gif", ".svg", ".ico", ".webp",
    ".bmp", ".mp3", ".mp4", ".avi", ".mov", ".wav", ".flv", ".wmv",
    ".doc", ".docx", ".xls", ".xlsx", ".ppt", ".pptx", ".woff",
    ".woff2", ".ttf", ".eot", ".otf",
)

# Extensions cycled through the synthetic URL set: every skip-list
# entry plus HTML-ish keepers, so each filter branch is exercised.
_EXT_CYCLE: tuple[str, ...] = NON_HTML_EXTENSIONS + (
    ".html", ".htm", "", ".php",
)

# Final dot-extension of a lowercased URL path.  Membership of this in
# NON_HTML_EXTENSIONS is equivalent to the reference's
# any(path.endswith(ext)) because every listed extension matches
# \.[a-z0-9]+ and can therefore only be a path suffix as the final
# dot-segment (e.g. "a.tar.gz" ends with ".gz" and its final segment
# IS ".gz").  One codegen'd regex + set membership instead of 35
# endswith calls per row.
_FINAL_EXT_RE = "(\\.[a-z0-9]+)$"


def q_extension_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 extension filter (discovery.py:815-863): drop non-HTML
    asset URLs using the reference's full 35-extension skip list.

    A deterministic mixed-extension URL set (doc_id cycles through all
    35 skip extensions + 4 keepers) exercises every branch; output is
    the per-extension verdict + URL count."""
    docs = load(spark, sf_dir, "documents")
    ext = F.element_at(
        F.array(*[F.lit(e) for e in _EXT_CYCLE]),
        (F.col("doc_id") % len(_EXT_CYCLE)).cast("int") + 1,
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
        ext,
    )
    path = F.lower(F.parse_url(url, F.lit("PATH")))
    final_ext = F.regexp_extract(path, _FINAL_EXT_RE, 1)
    keep = ~final_ext.isin(*NON_HTML_EXTENSIONS)
    return (
        docs.select(ext.alias("ext"), keep.alias("keep"))
        .groupBy("ext", "keep")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )


def q_link_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 link extraction (crawler.py:635-670): pull every href out of
    the rendered corpus HTML and explode to one row per link — all
    JVM-side regex, no UDF."""
    docs = load(spark, sf_dir, "documents")
    corpus = render_spans_to_html(documents_as_interleaved_corpus(docs))
    links = corpus.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.regexp_extract_all(
                F.col("html"), F.lit('href="([^"]*)"'), F.lit(1)
            )
        ).alias("href"),
    )
    return links.groupBy("href").agg(F.count(F.lit(1)).alias("n_refs"))


def q_url_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D22 stable URL hash (observability.py:95-102): sha256 prefix as
    the privacy-safe request-log identifier."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id",
        F.substring(F.sha2(url, 256), 1, 16).alias("url_hash"),
    )


def q_doc_slugs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 sink naming (crawler.py:392-423): deterministic
    host__path-slug file names for the markdown sink."""
    docs = load(spark, sf_dir, "documents")
    slug = F.concat(
        F.col("source"),
        F.lit(".example.com__docs-"),
        F.col("doc_id").cast("string"),
        F.lit("-"),
        F.regexp_replace(
            F.lower(F.substring(F.trim(F.col("text")), 1, 24)), "[^a-z0-9]+", "-"
        ),
    )
    return docs.select("doc_id", slug.alias("slug"))


# ---------------------------------------------------------------------------
# Text analysis (documents table)
# ---------------------------------------------------------------------------


# "BPE-ish" token regex: runs of letters, runs of digits, or a single
# non-alphanumeric non-space character (subword-style segmentation).
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish subword tokens (letters / digits / punct)."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E26 word count (utils.py:10-19) + BPE-ish subword token count."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).cast("int").alias("n_bpe_tokens"),
    )


def quality_score(col: Column) -> Column:
    """Composite document-quality score in [0, 1]:

    0.4 * length_component (saturates at 2000 chars)
    + 0.3 * stopword component (saturates at ratio 0.4)
    + 0.3 * punctuation component (ideal ~0.02..0.1, linear ramp)
    """
    return X.let(X.ws_tokens(col), lambda t: X._quality_score_from(col, t))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )


# Gopher (Rae et al. 2021) document-filter constants.  Symbols are the
# paper's hash + ellipsis set; bullets are common list markers.  The
# regexes are shared verbatim with the SQL oracle.
GOPHER_SYMBOL_RE = "#|\\.\\.\\.|…"
GOPHER_BULLET_RE = "^[-*•]"
GOPHER_ELLIPSIS_RE = "(\\.\\.\\.|…)$"
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0
GOPHER_MAX_MWL = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_metrics(col: Column) -> Column:
    """The Gopher quality-filter rule family (Rae et al. 2021, table
    A1) as ONE map-side struct: per-rule metrics, per-rule pass flags,
    and the final ``keep`` verdict.  Complements the repetition rules
    (``top_word_fraction`` etc. — surfaced by ``repetition_scores``)
    with the structural rules: word-count bounds, mean word length,
    symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic
    word fraction, and the distinct-stopword floor.

    Zero shuffles, zero Python: token and line arrays are ``let``-bound
    (interpreted HOFs have no CSE), the summed word length is
    ``length(text minus whitespace)`` (no per-token fold), and every
    metric is rounded to 6 decimals BEFORE its flag comparison so the
    DuckDB oracle reproduces each verdict exactly."""
    stop_lits = F.array(*[F.lit(s) for s in X.EN_STOPWORDS])

    def body(toks: Column, lines: Column) -> Column:
        n = F.size(toks)
        nd = n.cast("double")
        nl = F.size(lines).cast("double")
        mwl = F.when(n == 0, F.lit(0.0)).otherwise(
            F.round(
                F.length(F.regexp_replace(col, "\\s", "")).cast("double")
                / nd,
                6,
            )
        )
        symbol_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
            F.round(
                F.regexp_count(col, F.lit(GOPHER_SYMBOL_RE)).cast("double")
                / nd,
                6,
            )
        )
        bullet_frac = F.round(
            F.size(
                F.filter(
                    lines, lambda li: F.trim(li).rlike(GOPHER_BULLET_RE)
                )
            ).cast("double")
            / nl,
            6,
        )
        ellipsis_frac = F.round(
            F.size(
                F.filter(
                    lines, lambda li: F.trim(li).rlike(GOPHER_ELLIPSIS_RE)
                )
            ).cast("double")
            / nl,
            6,
        )
        alpha_frac = F.when(n == 0, F.lit(0.0)).otherwise(
            F.round(
                F.size(
                    F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
                ).cast("double")
                / nd,
                6,
            )
        )
        n_stop = F.size(
            F.filter(stop_lits, lambda s: F.array_contains(toks, s))
        )
        flags = F.struct(
            n.alias("n_words"),
            mwl.alias("mean_word_length"),
            symbol_ratio.alias("symbol_ratio"),
            bullet_frac.alias("bullet_frac"),
            ellipsis_frac.alias("ellipsis_frac"),
            alpha_frac.alias("alpha_frac"),
            n_stop.alias("n_stopwords"),
            ((n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)).alias(
                "wc_ok"
            ),
            (
                (mwl >= GOPHER_MIN_MWL) & (mwl <= GOPHER_MAX_MWL)
            ).alias("mwl_ok"),
            (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO).alias("symbol_ok"),
            (bullet_frac <= GOPHER_MAX_BULLET_FRAC).alias("bullet_ok"),
            (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC).alias(
                "ellipsis_ok"
            ),
            (alpha_frac >= GOPHER_MIN_ALPHA_FRAC).alias("alpha_ok"),
            (n_stop >= GOPHER_MIN_STOPWORDS).alias("stop_ok"),
        )
        return X.let(
            flags,
            lambda g: F.struct(
                *[g[f].alias(f) for f in (
                    "n_words", "mean_word_length", "symbol_ratio",
                    "bullet_frac", "ellipsis_frac", "alpha_frac",
                    "n_stopwords", "wc_ok", "mwl_ok", "symbol_ok",
                    "bullet_ok", "ellipsis_ok", "alpha_ok", "stop_ok",
                )],
                (
                    g["wc_ok"] & g["mwl_ok"] & g["symbol_ok"]
                    & g["bullet_ok"] & g["ellipsis_ok"]
                    & g["alpha_ok"] & g["stop_ok"]
                ).alias("keep"),
            ),
        )

    return X.let(
        X.ws_tokens(col),
        lambda toks: X.let(
            F.split(col, "\n"), lambda lines: body(toks, lines)
        ),
    )


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher structural quality filter (Rae et al. 2021): per-rule
    metrics + pass flags + final keep verdict, one map-side struct per
    document — see ``gopher_metrics`` above.  The
    repetition rule family lives in ``repetition_scores``."""
    docs = load(spark, sf_dir, "documents")
    # inline, not select("g.*"): star-expanding an aliased struct lets
    # Catalyst re-inline the whole metric struct once per extracted
    # field (measured 31.0 s → 27.8 s over 500k docs)
    return docs.select(
        "doc_id", F.inline(F.array(gopher_metrics(F.col("text"))))
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout for two-dimensional data skipping
    (functions/layout.py): interleave user bucket x hour index over
    events, assign rows to files by the key's top 8 bits, and emit
    each file's min/max stats for BOTH dimensions — the footer stats a
    Parquet/Iceberg reader prunes on.  The user dimension is
    HASH-SPREAD over the full 10-bit domain (md5 & 1023) before
    interleaving: user ids occupy a narrow, corpus-dependent range, and
    a dimension that fills only one curve cell gets zero pruning —
    hashing spreads any cardinality across all cells while keeping
    point predicates prunable (user = X ⇒ one known bucket; the time
    dimension stays raw because it serves RANGE predicates).  Because
    the curve keeps both ranges narrow, a point predicate on either
    dimension alone hits ~sqrt(F) of F files (time-sorted layout:
    every file contains every active user — zero user pruning); pinned
    by test_zorder_layout_prunes_both_dimensions.  The key is pure
    shift/mask integer expressions (whole-stage codegen, no shuffle to
    compute); at 100 TB the one shuffle is the
    repartitionByRange(zkey) write this plan feeds."""
    from .functions.layout import zorder_key
    from .functions.text import md5_int

    ev = load(spark, sf_dir, "events")
    x = md5_int(F.col("user_id").cast("string")).bitwiseAND(F.lit(1023))
    secs = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lit("2024-01-01 00:00:00")
    )
    y = F.least(F.floor(secs / F.lit(3600)).cast("long"), F.lit(1023))
    z = zorder_key(x, y, bits=10)
    return (
        ev.select(
            x.alias("xu"),
            y.alias("yh"),
            F.shiftright(z, 12).alias("file_id"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("xu").alias("min_ubucket"),
            F.max("xu").alias("max_ubucket"),
            F.min("yh").alias("min_hour"),
            F.max("yh").alias("max_hour"),
        )
    )


ZPROBE_USER = 7  # the point-lookup user for the pruned z-scan probe


def write_zorder_layout(ev: DataFrame, path: str) -> None:
    """Materialize the events table partitioned by the z-key's top 8
    bits (``file_id``), keeping only the probe's (xu, yh) columns —
    the stored layout ``q_zorder_pruned_scan`` probes."""
    from .functions.layout import zorder_key
    from .functions.text import md5_int

    x = md5_int(F.col("user_id").cast("string")).bitwiseAND(F.lit(1023))
    secs = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lit("2024-01-01 00:00:00")
    )
    y = F.least(F.floor(secs / F.lit(3600)).cast("long"), F.lit(1023))
    z = zorder_key(x, y, bits=10)
    ev.select(
        x.alias("xu"), y.alias("yh"), F.shiftright(z, 12).alias("file_id")
    ).write.partitionBy("file_id").mode("overwrite").parquet(path)


def zorder_probe_files(user_id: int) -> tuple[int, list[int]]:
    """(xu, file_ids) of one user's z-order probe: the user point
    predicate fixes the 4 x-bits of the partition key and leaves the 4
    y-bits free, so the probe reads 16 of 256 partitions."""
    import hashlib

    u = int(hashlib.md5(str(user_id).encode()).hexdigest()[:15], 16) & 1023
    xhi = u >> 6
    return u, [
        sum(((xhi >> i) & 1) << (2 * i) for i in range(4))
        + sum(((yhi >> i) & 1) << (2 * i + 1) for i in range(4))
        for yhi in range(16)
    ]


def q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PHYSICAL payoff of the Morton layout: events stored
    partitioned by the z-key's top 8 bits (the ``file_id`` of
    ``q_zorder_layout``), probed for ONE user's per-hour-block
    activity.  A user point predicate fixes the 4 x-bits of the
    partition key, leaving the 4 y-bits free — the probe enumerates
    those 16 of 256 partitions driver-side and the literal IN lands in
    ``PartitionFilters`` (asserted in PLANS.md), so 15/16 of the bytes
    are never read; a time-sorted layout reads everything for the same
    question.  Mirrors the lsh/ivf pruned-probe pattern: the
    partitioned table is materialized once per sf (at 100 TB it IS the
    stored table), the probe is the per-query cost."""
    path = _stored_layout(
        sf_dir,
        "ev_zorder",
        lambda p: write_zorder_layout(load(spark, sf_dir, "events"), p),
        src_table="events",
    )
    u, probe_files = zorder_probe_files(ZPROBE_USER)
    part = spark.read.parquet(path)
    return (
        part.where(F.col("file_id").isin(probe_files))
        .where(F.col("xu") == u)
        .groupBy(F.expr("yh DIV 64").alias("yblock"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only small-file compaction planner: fold per-bucket
    output files (stand-in: (source, doc_id%8) with bytes = sum of
    n_chars — the shape of the lineage/manifest rows job.py commits)
    into ~target-sized rewrite groups by cumulative-sum bucketing over
    a deterministic order (bytes desc, source, bucket).  The window is
    GLOBAL but runs over file *metadata* — O(files) rows, thousands at
    100 TB, never the data — which is why a single-task window is the
    right plan here and a scale smell anywhere else; the actual
    rewrite is then one coalesced read per out_group.  This is the
    planning half of Iceberg's rewrite_data_files(binpack)."""
    from pyspark.sql.window import Window

    target = 32768
    docs = load(spark, sf_dir, "documents")
    files = docs.groupBy(
        "source", F.pmod(F.col("doc_id"), F.lit(8)).alias("bucket")
    ).agg(F.sum("n_chars").alias("bytes"))
    w = (
        Window.orderBy(F.desc("bytes"), F.asc("source"), F.asc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum("bytes").over(w)
    return files.select(
        "source",
        "bucket",
        "bytes",
        F.floor((running - F.col("bytes")) / F.lit(target))
        .cast("long")
        .alias("out_group"),
    )


def q_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct 3-shingle cardinality via the deterministic
    HLL sketch (functions/sketches.py) — the shingle-space sizing a
    MinHash/LSH tuner reads (band/row choice depends on how many
    distinct shingles a source contributes).  At 100 TB this is the
    whole point of the sketch: the shuffle carries at most 256
    register rows per source instead of every unique shingle (an
    exact ``countDistinct`` would shuffle the full shingle set), the
    register max is a map-side partial aggregate, and wave-over-wave
    union is a register-wise max merge.  Exact SQL oracle: md5-based
    register assignment + integer rank + scaled harmonic sum replay
    bit-for-bit (one double division at the end, identical operands
    both sides)."""
    from .functions.dedup import word_shingles
    from .functions.sketches import hll_estimate

    docs = load(spark, sf_dir, "documents")
    items = docs.select(
        "source", F.explode(word_shingles(F.col("text"))).alias("shingle")
    )
    return hll_estimate(items, "shingle", group_cols=("source",))


def q_corpus_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus distribution stats: doc count, mean char
    length, and exact interpolated p50/p90/p99 of token and char
    counts — the dashboard a data-mixture owner reads before setting
    source weights.  ``percentile`` (exact, linear interpolation) is
    chosen over ``percentile_approx`` because the DuckDB oracle's
    ``quantile_cont`` implements the same definition, so the row
    hash-matches; at 100 TB swap in ``percentile_approx`` (t-digest,
    partial-aggregable, bounded memory) — same plan shape, one
    map-side-partial aggregate per source — since exact percentile
    buffers each group's values.  Interpolation arithmetic on integer
    inputs is identical across engines (verified: all sources match
    at 6 decimals)."""
    docs = load(spark, sf_dir, "documents")
    pre = docs.select(
        "source",
        X.token_count(F.col("text")).alias("n_toks"),
        F.col("n_chars"),
    )
    agg = pre.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.expr("percentile(n_toks, array(0.5, 0.9, 0.99))").alias("tp"),
        F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))").alias("cp"),
    )
    return agg.select(
        "source",
        "n_docs",
        "mean_chars",
        F.round(F.col("tp")[0], 6).alias("tok_p50"),
        F.round(F.col("tp")[1], 6).alias("tok_p90"),
        F.round(F.col("tp")[2], 6).alias("tok_p99"),
        F.round(F.col("cp")[0], 6).alias("chars_p50"),
        F.round(F.col("cp")[1], 6).alias("chars_p90"),
        F.round(F.col("cp")[2], 6).alias("chars_p99"),
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", X.langid(F.col("text")).alias("lang_pred"))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", X.fingerprint(F.col("text")).alias("fingerprint")
    )


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition metrics: type-token ratio
    (lexical diversity), top-word fraction, top-bigram fraction, and
    intra-document duplicate-line fraction — the full Gopher
    repetition rule family.  All computed map-side from the token
    array — no explode, no shuffle; at 10^12 docs the naive
    explode→groupBy(doc, word) would shuffle every token in the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    # inline(array(struct)) evaluates the shared-tokenization struct
    # exactly once per row (functions/text.py::repetition_metrics)
    return docs.select(
        "doc_id", F.inline(F.array(X.repetition_metrics(F.col("text"))))
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data document filter (the C4/Gopher pattern:
    several cheap heuristics, first failing rule wins, verdict + reason
    recorded so filtering is auditable).  Pure JVM column expressions
    composed from the text-metric family — one map over a pruned scan,
    zero shuffles; the oracle reuses the SAME per-metric SQL the
    individual metric oracles are green on, so this can only disagree
    if the rule composition itself drifts."""
    m = _quality_metrics(load(spark, sf_dir, "documents"))
    reason = _quality_reason_expr()
    return m.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


# C4-style token blocklist ("bad words" filter) + UT1-style domain
# blocklist.  The term list is a tiny constant (C4's real list is ~400
# entries — still an in-expression broadcast); domain blocklists are
# millions of rows at production scale, so the host check is a JOIN
# against a blocklist relation, not a literal IN.
BLOCK_TERMS: tuple[str, ...] = ("slow", "error", "dup")
BLOCK_HOSTS: tuple[str, ...] = ("src3.example.com", "src7.example.com")


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering (the C4 badwords rule + UT1 domain
    blocklist): a document is dropped if any token is on the term
    blocklist or its host is on the domain blocklist; both verdicts
    are recorded so the filter is auditable (same contract as
    ``quality_filter``).

    Scale shape: the term check is ``arrays_overlap`` against a
    constant array — pure map-side JVM, zero shuffles.  The host check
    is a LEFT join against the blocklist relation: at 2-row test size
    Catalyst broadcasts it, and at UT1 scale (millions of domains,
    still ≪ corpus) the same plan broadcasts a few hundred MB — the
    corpus side never shuffles either way.  Null-safe: blank text →
    empty token array → no overlap."""
    docs = load(spark, sf_dir, "documents")
    hosts = spark.createDataFrame(
        [(h,) for h in BLOCK_HOSTS], "blocked_host_key string"
    )
    base = docs.select(
        "doc_id",
        X.ws_tokens(F.lower(F.col("text"))).alias("toks"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
    )
    joined = base.join(
        F.broadcast(hosts),
        base["host"] == hosts["blocked_host_key"],
        "left",
    )
    blocked_term = F.arrays_overlap(
        F.col("toks"), F.array(*[F.lit(t) for t in BLOCK_TERMS])
    )
    blocked_host = F.col("blocked_host_key").isNotNull()
    return joined.select(
        "doc_id",
        blocked_term.alias("blocked_term"),
        blocked_host.alias("blocked_host"),
        (~blocked_term & ~blocked_host).alias("keep"),
    )


PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "555-[0-9]{4}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — mandatory hygiene before corpus text becomes
    training data.  Every 5th document gets a deterministic synthetic
    contact tail (email + phone) injected, then the scrubber counts
    and replaces PII with typed placeholders, all JVM regex (one
    map-side Project, zero shuffles).  The oracle runs the SAME
    patterns through DuckDB's regex engine over the same constructed
    text — so the match semantics themselves are cross-checked, not
    just the counts."""
    docs = load(spark, sf_dir, "documents")
    tail = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org or call 555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
                   4, "0"),
            F.lit("."),
        ),
    ).otherwise(F.lit(""))
    text2 = F.concat(F.col("text"), tail)
    scrubbed = F.regexp_replace(
        F.regexp_replace(text2, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(text2, F.lit(PII_EMAIL_RE), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(text2, F.lit(PII_PHONE_RE), F.lit(0))
        ).alias("n_phones"),
        F.md5(scrubbed).alias("clean_digest"),
    )


SAMPLE_MOD = 5


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling (training mixes need exact
    re-materialization months later, so sampling must be a pure
    function of the key — never ``rand()``): a deterministic md5-hash
    bucket keeps 1/SAMPLE_MOD of each source's documents.  Returns
    per-source totals (n_docs, n_sampled) — the stratification audit
    view; a per-row verdict needs no stored flag because the predicate
    is a pure function of doc_id and any later run recomputes the
    identical row set."""
    docs = load(spark, sf_dir, "documents")
    sampled = X.md5_int(F.col("doc_id").cast("string")) % SAMPLE_MOD == 0
    return (
        docs.select("source", sampled.alias("sampled"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("sampled").cast("int")).alias("n_sampled"),
        )
    )


PRIORITY_SAMPLE_K = 64


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional corpus subsampling with an UNBIASED
    subset-sum estimator — priority sampling (Duffield, Lund & Thorup,
    JACM 2007).  A training mix that wants "sample documents
    proportionally to quality/length, k of them, reproducibly, with
    estimation weights that make downstream token counts unbiased" is
    exactly this sketch; uniform hash sampling (``stratified_sample``)
    cannot weight, and weighted sampling via ``rand()`` cannot be
    re-materialized.

    Per doc: integer weight w = clamp(token count, 1, 256); uniform
    u from the shared salted 60-bit md5 hash; priority = w·2^60/(h+1).
    Keep the top k priorities; the (k+1)-th priority is the threshold
    τ, and each kept doc's estimation weight is max(w, τ) — the DLT
    estimator (E[Σ max(w,τ) over kept] = Σ w exactly).

    Cross-engine exactness: the priority uses ONLY IEEE multiply and
    divide on identical operands (w·2^60 is integer-exact in a double;
    long→double conversion and '/' are correctly rounded and
    identical in the JVM and libm) — no ln/pow, so the floats are
    BIT-IDENTICAL in Spark and DuckDB and the oracle needs no rounding
    tolerance.

    Scale shape: priorities are map-side; top-(k+1) compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort); τ is
    a 1-row aggregate of that metadata-scale result attached via
    broadcast — the corpus is scanned once and never shuffled."""
    docs = load(spark, sf_dir, "documents")
    w_int = F.least(
        F.greatest(F.size(X.ws_tokens(F.col("text"))), F.lit(1)),
        F.lit(256),
    )
    h = X.md5_int(
        F.concat(F.lit("psample:"), F.col("doc_id").cast("string"))
    )
    pr = (w_int.cast("double") * F.lit(float(2**60))) / (
        (h + 1).cast("double")
    )
    scored = docs.select(
        "doc_id", w_int.cast("int").alias("weight"), pr.alias("priority")
    )
    topk1 = scored.orderBy(
        F.desc("priority"), F.asc("doc_id")
    ).limit(PRIORITY_SAMPLE_K + 1)
    tau = topk1.agg(F.min("priority").alias("tau"))
    return (
        topk1.orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(PRIORITY_SAMPLE_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "weight",
            "priority",
            F.greatest(F.col("weight").cast("double"), F.col("tau")).alias(
                "est_weight"
            ),
        )
    )


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment.

    Training pipelines need the split to be a pure function of the
    document key — stable across runs, machines, and re-shards (never
    ``rand()``/``randomSplit``, whose outcome depends on partitioning).
    The bucket hash is salted ('split:' prefix) so it is independent
    of every other hash-derived decision in the pipeline (sampling,
    quotas, LSH) — correlated splits leak filter decisions into the
    eval set.  Pure map over the scan: zero shuffles, zero joins at
    any scale.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = (
        X.md5_int(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % SPLIT_BUCKETS
    )
    return docs.select(
        "doc_id",
        "source",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )


DOMAIN_CAP = 15


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document quota (web-pipeline spam control: one hot
    host must not dominate the training mix, so each source keeps at
    most ``DOMAIN_CAP`` docs).  Selection priority is a deterministic
    hash of doc_id — reproducible months later, like
    ``q_stratified_sample`` — with doc_id as the tie-break so the cut
    is a total order.

    Scale shape: rank-under-a-cap compiles to ``WindowGroupLimit``,
    which drops rows PAST the cap on the map side before the shuffle
    sort — each task forwards at most cap rows per source, so a
    million-doc spam host costs its partitions only a bounded buffer,
    not a full per-host sort (the same rides-the-shuffle cap the LSH
    bucket bound uses, dedup.py).  One shuffle on source."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    pri = X.md5_int(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(
        pri.asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source", pri.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= DOMAIN_CAP)
        .select("source", "doc_id", "priority")
    )


MIX_BUCKETS = 8


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixing to a token budget (Dolma/Pile-style mixture
    construction: balance every source down to the smallest source's
    token count so no domain dominates the training mix).  Every doc
    gets a deterministic hash priority; each source keeps docs in
    priority order while its running token total stays under the
    budget — reproducible months later because the whole decision is a
    pure function of doc_id (never ``rand()``).

    Scale shape: the per-source running token total is a prefix sum,
    and a window partitioned only by source serializes each source
    through ONE task (fatal for a 10-TB source).  Same decomposition
    as ``q_sequence_pack``: priorities are uniform 60-bit hashes, so
    ``priority DIV (2^60/MIX_BUCKETS)`` is an ORDER-RESPECTING pure
    bucketing; the window runs per (source, bucket), per-bucket totals
    collect to the driver (sources x MIX_BUCKETS rows — metadata), and
    base offsets come back via a broadcast join.  The budget (min
    source total) falls out of the same metadata.  One shuffle on
    (source, bucket).  The DuckDB oracle uses the single-node
    per-source global window — agreeing with it is evidence the
    bucketed decomposition is exact."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    width = (1 << 60) // MIX_BUCKETS
    t = docs.select(
        "doc_id",
        "source",
        X.token_count(F.col("text")).alias("n_tokens"),
        X.md5_int(F.col("doc_id").cast("string")).alias("priority"),
    ).withColumn("bkt", F.expr(f"priority DIV {width}").cast("int"))
    # phase 1: (source, bucket) totals -> driver (metadata, not data)
    per_source: dict[str, dict[int, int]] = {}
    for r in (
        t.groupBy("source", "bkt")
        .agg(F.sum("n_tokens").alias("tot"))
        .collect()
    ):
        per_source.setdefault(r["source"], {})[r["bkt"]] = r["tot"]
    budget = min(sum(b.values()) for b in per_source.values())
    base_rows = []
    for s, bks in per_source.items():
        acc = 0
        for bkt in sorted(bks):
            base_rows.append((s, bkt, acc))
            acc += bks[bkt]
    base = spark.createDataFrame(
        base_rows, "source string, bkt int, base long"
    )
    # phase 2: bucket-local running sum + broadcast base offset
    w = (
        Window.partitionBy("source", "bkt")
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        t.join(F.broadcast(base), ["source", "bkt"])
        .withColumn("cum_before", F.col("base") + local)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "cum_before",
            (
                (F.col("cum_before") + F.col("n_tokens")) <= F.lit(budget)
            ).alias("kept"),
        )
    )


# Temperature-based source sampling (XLM-R/mC4-style): sampling
# probability p_i ∝ n_i^α with α = 0.5 so low-resource sources are
# up-weighted relative to their raw share.  α = 0.5 is deliberately
# sqrt: IEEE-754 specifies sqrt as correctly rounded, so Spark and
# DuckDB produce the same double bit-for-bit (a general pow(x, 0.3)
# carries no such guarantee across libms).
TEMP_WEIGHT_SCALE = 1_000_000  # weights in parts-per-million
TEMP_BUDGET_DEN = 2  # sample budget = total docs // 2


def _temperature_quotas(counts: DataFrame) -> DataFrame:
    """Shared mixture math: per-source doc counts → raw share,
    temperature weight, and doc quota, all in exact integer ppm.
    s_i = floor(sqrt(n_i) · 1e6) is one correctly-rounded sqrt and one
    exactly-representable multiply per source — deterministic across
    engines and partitionings; everything downstream is int64."""
    t = counts.withColumn(
        "s",
        F.floor(
            F.sqrt(F.col("n_docs").cast("double"))
            * F.lit(float(TEMP_WEIGHT_SCALE))
        ).cast("long"),
    )
    tot = t.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("s").alias("total_s")
    )
    weight = f"s * {TEMP_WEIGHT_SCALE} DIV total_s"
    return t.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"n_docs * {TEMP_WEIGHT_SCALE} DIV total_docs").alias(
            "share_ppm"
        ),
        F.expr(weight).alias("temp_weight_ppm"),
        F.expr(
            f"({weight}) * (total_docs DIV {TEMP_BUDGET_DEN})"
            f" DIV {TEMP_WEIGHT_SCALE}"
        ).alias("quota"),
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture (the multilingual-sampling
    rule from XLM-R / mC4: p_i ∝ n_i^α, here α = 0.5): per source,
    the raw corpus share, the temperature-flattened sampling weight,
    and the resulting doc quota at a budget of half the corpus.
    Complements ``q_source_mixture`` (balance-to-smallest): that rule
    levels every source to the floor; temperature sampling keeps
    big sources bigger while boosting the tail — the knob real
    multilingual pretraining mixes use.

    Scale shape: ONE partial-aggregable groupBy(source) count, then a
    one-row totals aggregate broadcast back over the (tiny relative to
    the corpus) per-source table.  The corpus is scanned once and
    never shuffled; no window, no collect.  All arithmetic is integer
    ppm except the single IEEE-exact sqrt (see TEMP_WEIGHT_SCALE
    note), so the oracle matches bit-for-bit."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return _temperature_quotas(counts)


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document temperature resampling: materialize the mixture
    ``q_temperature_mixture`` plans — each source keeps its quota's
    worth of documents, chosen by deterministic md5 priority (never
    ``rand()``: the sample must be reproducible across reruns and
    partitionings).

    Scale shape: the per-source priority rank is the same two-phase
    decomposition as ``q_training_order`` — a window partitioned only
    by source would serialize a 10-TB source through one task, so the
    rank runs per (source, priority-bucket) where the bucket is an
    order-respecting prefix of the priority (``priority DIV width``),
    per-bucket counts collect to the driver (sources × MIX_BUCKETS
    rows — metadata), and base offsets come back via a broadcast join.
    Quotas ride the same broadcast (per-source table is metadata).
    ONE shuffle of the corpus on (source, bucket).  The oracle is the
    single-node per-source global window — agreement is evidence the
    decomposition is exact."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    width = (1 << 60) // MIX_BUCKETS
    t = docs.select(
        "doc_id",
        "source",
        X.md5_int(F.col("doc_id").cast("string")).alias("priority"),
    ).withColumn("bkt", F.expr(f"priority DIV {width}").cast("int"))
    # phase 1: (source, bucket) doc counts -> driver (metadata)
    per_source: dict[str, dict[int, int]] = {}
    for r in t.groupBy("source", "bkt").count().collect():
        per_source.setdefault(r["source"], {})[r["bkt"]] = r["count"]
    base_rows = []
    for s, bks in per_source.items():
        acc = 0
        for bkt in sorted(bks):
            base_rows.append((s, bkt, acc))
            acc += bks[bkt]
    base = spark.createDataFrame(
        base_rows, "source string, bkt int, base long"
    )
    counts = spark.createDataFrame(
        [(s, sum(b.values())) for s, b in per_source.items()],
        "source string, n_docs long",
    )
    quotas = _temperature_quotas(counts).select("source", "quota")
    # phase 2: bucket-local rank + broadcast base offset vs quota
    w = Window.partitionBy("source", "bkt").orderBy(
        F.asc("priority"), F.asc("doc_id")
    )
    return (
        t.join(F.broadcast(base), ["source", "bkt"])
        .join(F.broadcast(quotas), "source")
        .withColumn(
            "src_rank",
            (F.col("base") + F.row_number().over(w)).cast("long"),
        )
        .select(
            "doc_id",
            "source",
            "src_rank",
            (F.col("src_rank") <= F.col("quota")).alias("kept"),
        )
    )


VOCAB_TOP_K = 20


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide vocabulary build (tokenizer-training prep: BPE/
    unigram trainers start from exactly this table): top-K tokens by
    corpus term frequency, with document frequency alongside.

    Scale shape: explode → two-phase aggregation.  Phase 1 groups by
    (token, doc_id) — map-side partial aggregation collapses each
    doc's repeats before the shuffle — and phase 2 folds per-token
    totals, so document frequency is an ordinary COUNT, never a
    COUNT(DISTINCT) expand over the exploded stream (at 10^12 docs the
    expand doubles the shuffle volume; the two-phase spelling keeps
    both aggregates partial-aggregable).  The final top-K is a
    TakeOrderedAndProject (K rows per partition → K rows total), not a
    global sort; (term_freq DESC, token ASC) is a total order, so the
    cut is deterministic."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(X.ws_tokens(F.lower(F.col("text")))).alias("token"),
    )
    per_doc = toks.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    vocab = per_doc.groupBy("token").agg(
        F.sum("tf").alias("term_freq"),
        F.count(F.lit(1)).alias("doc_freq"),
    )
    return vocab.orderBy(
        F.desc("term_freq"), F.asc("token")
    ).limit(VOCAB_TOP_K)


BPE_MERGES = 8
# Vocabulary size below which BPE training collapses each per-merge job
# to one task (pure scheduling-overhead elision; never changes results).
BPE_SMALL_VOCAB_MAX = 4096


def q_bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    small_vocab_max: int | None = None,
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016 /
    subword-nmt): learn the first ``BPE_MERGES`` merge rules from the
    corpus word-frequency table — per iteration, count adjacent symbol
    pairs weighted by word frequency, pick the most frequent (ties →
    lexicographically smallest pair), and merge its occurrences
    greedily left-to-right in every word.

    BPE trains on the (word, freq) VOCABULARY, not the token stream —
    the corpus-sized work is ONE explode → hash-aggregate pass; after
    that every iteration touches only the vocabulary relation:
    pair counting is explode → partial-aggregable sum whose argmax
    compiles to TakeOrderedAndProject (1 row collected — the merge
    table is driver metadata by definition), and the merge itself is a
    map-side string ``replace``.  Per-iteration ``localCheckpoint``
    truncates the growing plan (the PageRank/frontier lesson), keeping
    cost linear in merges.

    The symbol sequence is encoded as a space-padded, double-space-
    joined STRING (`` a  b  c ``): the pair pattern `` L  R `` can
    then only match full-symbol boundaries, adjacent occurrences share
    no characters, and one non-overlapping left-to-right ``replace``
    IS the BPE greedy merge — bit-identical in Java and DuckDB, which
    makes the unrolled-CTE oracle exact.  ``tests/test_pipeline_
    queries.py::test_bpe_merges_match_python_reference`` pins the
    semantics against an independent plain-Python subword-nmt
    implementation."""
    cur = _bpe_vocab(spark, sf_dir)
    merges = _bpe_train(cur, small_vocab_max)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_freq bigint"
    )


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct-word ``(w, freq, syms)`` relation BPE trains on —
    the ONE corpus-sized pass (explode → partial-aggregable count),
    localCheckpointed so trainer and consumers (subword counting,
    packing) share it instead of each re-scanning the token stream."""
    docs = load(spark, sf_dir, "documents")
    chars = F.filter(F.split(F.col("w"), ""), lambda x: x != "")
    return (
        docs.select(
            F.explode(X.ws_tokens(F.lower(F.col("text")))).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            "freq",
            F.concat(
                F.lit(" "), F.array_join(chars, "  "), F.lit(" ")
            ).alias("syms"),
        )
        .localCheckpoint(eager=True)
    )


def _bpe_train(
    cur: DataFrame, small_vocab_max: int | None = None
) -> list[tuple[int, str, str, int]]:
    """Run the BPE merge loop over a ``_bpe_vocab`` relation and return
    the learned merge table in rank order (driver metadata: ≤
    BPE_MERGES rows).  See ``q_bpe_merges`` for semantics."""
    # Size-gate the merge loop (the connected_components pattern): a
    # vocabulary at most BPE_SMALL_VOCAB_MAX entries is driver metadata
    # by the engine's own standard (the merge table / IVF codebook
    # precedent), so the iteration runs in plain Python against the
    # collected (w, freq, syms) rows — bit-identical semantics (same
    # space-padded symbol strings, same all-adjacent-positions pair
    # count, same (count desc, pair asc) argmax, same non-overlapping
    # left-to-right replace) without paying 2·BPE_MERGES tiny Spark
    # jobs to move ~31 rows (measured ~1.0 s/merge of pure scheduling
    # at 500k docs).  A real web vocabulary (millions of words) takes
    # the distributed loop below; tests pin both paths equal.
    if small_vocab_max is None:
        small_vocab_max = BPE_SMALL_VOCAB_MAX
    if cur.count() <= small_vocab_max:
        vocab = [(r["freq"], r["syms"]) for r in cur.collect()]
        dmerges: list[tuple[int, str, str, int]] = []
        for rank in range(BPE_MERGES):
            counts: dict[str, int] = {}
            for freq, syms_s in vocab:
                toks = syms_s.strip().split("  ")
                for i in range(len(toks) - 1):
                    p = f" {toks[i]}  {toks[i + 1]} "
                    counts[p] = counts.get(p, 0) + freq
            if not counts:
                break
            pair = min(counts, key=lambda p: (-counts[p], p))
            lhs, rhs = pair[1:-1].split("  ", 1)
            dmerges.append((rank, lhs, rhs, int(counts[pair])))
            joined = f" {lhs}{rhs} "
            vocab = [(f, s.replace(pair, joined)) for f, s in vocab]
        return dmerges
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(BPE_MERGES):
        syms = F.split(F.trim(F.col("syms")), "  ")
        pairs = F.transform(
            F.slice(syms, 1, F.size(syms) - 1),
            lambda x, i: F.concat(
                F.lit(" "),
                x,
                F.lit("  "),
                F.element_at(syms, (i + F.lit(2)).cast("int")),
                F.lit(" "),
            ),
        )
        best = (
            cur.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], best[0]["cnt"]
        lhs, rhs = pair[1:-1].split("  ", 1)
        merges.append((rank, lhs, rhs, int(cnt)))
        cur = cur.select(
            "w",
            "freq",
            F.replace(
                F.col("syms"), F.lit(pair), F.lit(f" {lhs}{rhs} ")
            ).alias("syms"),
        ).localCheckpoint(eager=True)
    return merges


BPE_VOCAB_BROADCAST_MAX = 2_000_000  # vocab entries; ≈ tens of MB broadcast


def q_bpe_subword_counts(
    spark: SparkSession,
    sf_dir: str,
    vocab_broadcast_threshold: int | None = None,
) -> DataFrame:
    """Token counting under the TRAINED tokenizer (the budget metric
    every mixture/packing decision actually uses — ``bpe_token_count``
    is the regex approximation; this is the real thing): apply the
    learned ``q_bpe_merges`` rules in rank order and count each
    document's subword tokens.

    Scale shape: merges are applied to the DISTINCT-word vocabulary
    (not the token stream) — a chain of K map-side string replaces on
    the same symbol-string encoding the trainer used.  Per-document
    counts are SIZE-GATED (the ``connected_components`` pattern): a
    vocabulary at most ``vocab_broadcast_threshold`` entries folds a
    broadcast word→n_subwords map over the token array (the
    ``quality_lexical`` pattern, ZERO exchanges over the corpus beyond
    the vocabulary aggregate); above the gate — the web-scale regime
    where an uncapped vocabulary stops fitting a broadcast — the
    spelling switches to explode → shuffled equi-join on the word →
    re-agg by doc_id (one partial-aggregable shuffle), both paths
    pinned equal in tests via ``threshold=0``.  A real pipeline would
    persist the merge table instead of retraining it inline.  Trainer
    and segmenter share ONE checkpointed ``_bpe_vocab`` pass — the
    merges re-apply to that relation's ``syms`` column, so the corpus
    is never re-exploded a second time."""
    wvocab = _bpe_vocab(spark, sf_dir)
    merge_rows = _bpe_train(wvocab)
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", X.ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    syms = F.col("syms")
    for _rank, lhs, rhs, _cnt in merge_rows:
        syms = F.replace(
            syms, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
        )
    vocab = wvocab.select(
        "w",
        F.size(F.split(F.trim(syms), "  ")).cast("long").alias("n_sub"),
    )
    if vocab_broadcast_threshold is None:
        vocab_broadcast_threshold = BPE_VOCAB_BROADCAST_MAX
    # gate on wvocab's row count (vocab is a 1:1 select over it) — a
    # cheap count against the checkpoint, so vocab needs NO persist:
    # each path below consumes it exactly once, and a session-lifetime
    # CacheManager pin here leaked across multi-query runs (review r4)
    if wvocab.count() <= vocab_broadcast_threshold:
        wmap = vocab.agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "n_sub"))
            ).alias("wm")
        )
        return base.crossJoin(F.broadcast(wmap)).select(
            "doc_id",
            F.aggregate(
                "toks",
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.element_at(F.col("wm"), t),
            ).alias("n_subwords"),
        )
    # at-scale path: token stream joined to the (non-broadcast) vocab
    # on the word — Spark picks the shuffle strategy, AQE can still
    # convert it back if the vocab turns out small — then one
    # partial-aggregable re-agg by doc_id; zero-token docs re-enter
    # via the left join (the fold path's acc=0 on an empty array).
    counts = (
        base.select("doc_id", F.explode("toks").alias("w"))
        .join(vocab.select("w", "n_sub"), "w")
        .groupBy("doc_id")
        .agg(F.sum("n_sub").alias("n_subwords"))
    )
    return base.select("doc_id").join(counts, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_subwords", F.lit(0)).cast("long").alias("n_subwords"),
    )


def _lex_dense_ids(subs: DataFrame, col: str = "sub") -> DataFrame:
    """Global 1-based lexicographic rank of a distinct string column
    WITHOUT a global-ORDER-BY window (which collapses to one task):
    two-phase deterministic-bucket rank, the string twin of
    ``_global_prefix_sum``.  Bucket = code point of the first
    character — order-preserving under Spark's binary collation (all
    strings in bucket b sort before all strings in bucket b+1) — then
    per-bucket counts to the driver (metadata: ≤ distinct first
    chars), cumulative base offsets broadcast back, and a
    bucket-partitioned row_number.  Output ids are IDENTICAL to
    ``row_number().over(Window.orderBy(col))`` (pinned by test)."""
    from pyspark.sql.window import Window

    # eager localCheckpoint, not persist: consumed twice (the counts
    # collect + the returned rank frame), and checkpoint blocks are
    # ContextCleaner-freed instead of session-pinned (review r4)
    b = subs.withColumn(
        "_b", F.coalesce(F.ascii(F.substring(F.col(col), 1, 1)), F.lit(-1))
    ).localCheckpoint(eager=True)
    counts = {
        r["_b"]: r["n"]
        for r in b.groupBy("_b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    base, acc = {}, 0
    for k in sorted(counts):
        base[k] = acc
        acc += counts[k]
    off = (
        F.coalesce(
            *[F.when(F.col("_b") == k, F.lit(v)) for k, v in base.items()]
        )
        if base
        else F.lit(0)
    )
    w = Window.partitionBy("_b").orderBy(col)
    return b.select(
        col, (off + F.row_number().over(w)).cast("int").alias("tid")
    )


def q_packed_examples(
    spark: SparkSession,
    sf_dir: str,
    vocab_broadcast_threshold: int | None = None,
) -> DataFrame:
    """The trainer's last mile: fixed-length packed examples of REAL
    trained-tokenizer ids.  Tokenize every document under the learned
    BPE merges (q_bpe_merges), lay all subwords on the global
    concat-in-doc_id-order axis, cut ``PACK_CHUNK_TOKENS``-sized
    chunks, and emit each chunk's ordered id sequence — what
    ``sequence_pack`` assigns abstractly, materialized in subword
    units a training loop can consume.

    Scale shape: segmentation touches the DISTINCT-word vocabulary;
    the GLOBAL offset is the same two-phase deterministic-bucket
    prefix sum as sequence_pack (``_global_prefix_sum``); chunk
    assembly is one groupBy(chunk) whose collect_list is bounded by
    the chunk size.  Vocabulary access is SIZE-GATED like
    q_bpe_subword_counts.  At most ``vocab_broadcast_threshold``
    entries: the word→subword-ids mapping folds into ONE broadcast
    map, each document's full id sequence is a map-side
    ``flatten(transform(toks, …))``, and the only shuffle over the
    corpus moves one ARRAY SLICE per document-chunk overlap
    (≤ len/chunk+2 rows per doc) — never a row per token, so the
    shuffle carries ~none of the per-record overhead the exploded
    spelling pays 10^2 tokens/doc times (measured 81.6 s → the
    map-side spelling at 500k docs/50M tokens).  Above the gate — an
    uncapped web vocabulary that no longer fits a broadcast — the
    joins shuffle on the word/subword key, per-doc offsets come from
    doc-partitioned windows, and ids come from the two-phase
    ``_lex_dense_ids`` rank (no unpartitioned window anywhere); both
    paths pinned equal in tests via ``threshold=0``.  Ids are emitted
    as a space-joined string (arrays hash differently across pandas
    bridges; the string is exact).  Like q_bpe_subword_counts, trainer
    and segmenter share ONE checkpointed ``_bpe_vocab`` corpus pass."""
    from pyspark.sql.window import Window

    wvocab = _bpe_vocab(spark, sf_dir)
    merge_rows = _bpe_train(wvocab)
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", X.ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    syms = F.col("syms")
    for _rank, lhs, rhs, _cnt in merge_rows:
        syms = F.replace(
            syms, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
        )
    vocab = wvocab.select(
        "w", F.split(F.trim(syms), "  ").alias("subs")
    )
    if vocab_broadcast_threshold is None:
        vocab_broadcast_threshold = BPE_VOCAB_BROADCAST_MAX
    # vocab is consumed multiple times below (distinct_subs + the
    # word→ids map / joins), so it must be materialized — but as an
    # eager localCheckpoint, NOT a persist: checkpoint blocks are
    # freed by the ContextCleaner when the plan is dropped, while a
    # persist pins CacheManager blocks for the whole session and
    # leaked across the 126-query sweep (review r4).  The gate count
    # rides wvocab's checkpoint (vocab is a 1:1 select over it).
    vocab = vocab.localCheckpoint(eager=True)
    small_vocab = wvocab.count() <= vocab_broadcast_threshold
    distinct_subs = vocab.select(F.explode("subs").alias("sub")).distinct()
    C = PACK_CHUNK_TOKENS
    if small_vocab:
        sub_ids = distinct_subs.select(
            "sub",
            F.row_number().over(Window.orderBy("sub")).alias("tid"),
        )
        # word → ordered subword-id array, folded into one broadcast
        # map over the (bounded) vocabulary relation.
        wids = (
            vocab.select("w", F.posexplode("subs").alias("spos", "sub"))
            .join(F.broadcast(sub_ids), "sub")
            .groupBy("w")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("spos", "tid"))),
                    lambda s: s["tid"],
                ).alias("wids")
            )
        )
        wmap = wids.agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "wids"))
            ).alias("wm")
        )
        doc_ids = (
            base.crossJoin(F.broadcast(wmap))
            .select(
                "doc_id",
                F.flatten(
                    F.transform(
                        "toks", lambda t: F.element_at(F.col("wm"), t)
                    )
                ).alias("ids"),
            )
            .filter(F.size("ids") > 0)
        )
        doc_tot = doc_ids.select("doc_id", F.size("ids").alias("n"))
        starts = _global_prefix_sum(doc_tot, n_col="n").select(
            "doc_id", "start"
        )
        sliced = (
            doc_ids.join(starts, "doc_id")
            .select(
                "ids",
                "start",
                (F.col("start") + F.size("ids")).alias("end"),
                F.explode(
                    F.sequence(
                        F.expr(f"start DIV {C}"),
                        F.expr(f"(start + size(ids) - 1) DIV {C}"),
                    )
                ).alias("chunk_id"),
            )
            .select(
                "ids",
                "start",
                "chunk_id",
                F.greatest(
                    F.col("start"), F.col("chunk_id") * F.lit(C)
                ).alias("from_g"),
                F.least(
                    F.col("end"), (F.col("chunk_id") + 1) * F.lit(C)
                ).alias("to_g"),
            )
            .select(
                "chunk_id",
                (F.col("from_g") - F.col("chunk_id") * F.lit(C))
                .cast("int")
                .alias("off"),
                F.slice(
                    "ids",
                    (F.col("from_g") - F.col("start") + 1).cast("int"),
                    (F.col("to_g") - F.col("from_g")).cast("int"),
                ).alias("part"),
            )
        )
        return sliced.groupBy("chunk_id").agg(
            F.sum(F.size("part")).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.flatten(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("off", "part"))
                            ),
                            lambda s: s["part"],
                        )
                    ),
                    lambda t: t.cast("string"),
                ),
                " ",
            ).alias("ids"),
        )
    sub_ids = _lex_dense_ids(distinct_subs, "sub")
    tokpos = base.select(
        "doc_id", F.posexplode("toks").alias("wpos", "w")
    )
    jw = tokpos.join(vocab, "w").select(
        "doc_id", "wpos", "subs", F.size("subs").alias("ns")
    )
    wdoc = (
        Window.partitionBy("doc_id")
        .orderBy("wpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    jw = jw.withColumn(
        "word_off", F.coalesce(F.sum("ns").over(wdoc), F.lit(0))
    )
    doc_tot = jw.groupBy("doc_id").agg(F.sum("ns").alias("n"))
    starts = _global_prefix_sum(doc_tot, n_col="n").select(
        "doc_id", "start"
    )
    ex = (
        jw.join(starts, "doc_id")
        .select(
            (F.col("start") + F.col("word_off")).alias("base_off"),
            F.posexplode("subs").alias("spos", "sub"),
        )
        .select((F.col("base_off") + F.col("spos")).alias("gpos"), "sub")
    )
    ided = ex.join(sub_ids, "sub")
    return (
        ided.select(
            F.expr(f"gpos DIV {C}").alias("chunk_id"),
            "gpos",
            "tid",
        )
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gpos", "tid"))),
                    lambda s: s["tid"].cast("string"),
                ),
                " ",
            ).alias("ids"),
        )
    )


BM25_QUERY_TERMS: tuple[str, ...] = ("spark", "join", "filter")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 15


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval: score every document against a fixed term
    query (Robertson/Sparck-Jones idf, k1/b length normalization) and
    return the best ``BM25_TOP_K`` — the lexical counterpart of the
    embedding ANN family (decontamination lookups, eval-set retrieval,
    quality probes against a 100 TB corpus).

    Scale shape: per-document tf for the query terms comes from
    ``size(filter(tokens, ...))`` higher-order expressions — no explode
    of the token stream, no shuffle; the corpus statistics the formula
    needs (N, total token count, per-term document frequencies) are ONE
    fully partial-aggregable job that collects a single metadata row;
    idf weights are then baked into a second shuffle-free scoring pass
    whose top-k compiles to TakeOrderedAndProject (K rows per
    partition, never a global sort).  An inverted index would only pay
    for itself under high query volume; for one-off pipeline probes the
    two-pass scan IS the optimal plan.

    Cross-engine exactness: idf is computed with driver-side
    ``math.log`` (glibc libm — bit-identical to DuckDB's ``ln``), every
    constant is interpolated into the oracle SQL via ``repr`` so both
    engines evaluate the same IEEE-754 expression tree, and the final
    score is rounded to 6 places (the ``cosine_topk`` convention)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", X.ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    def _tf(term: str) -> Column:
        # a plain 1-arg lambda: a default-arg capture would make PySpark
        # treat it as the 2-arg (element, index) lambda form
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    per_doc = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(BM25_QUERY_TERMS)],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    ).first()
    dfs = [stats[f"df{i}"] for i in range(len(BM25_QUERY_TERMS))]
    return _bm25_topk(per_doc, stats["n"], stats["total_dl"], dfs, BM25_TOP_K)


def _bm25_topk(
    per_doc: DataFrame, n: int, total_dl: int, dfs: list[int], k: int
) -> DataFrame:
    """BM25 scoring + top-k shared by the inline scan and the stored
    index: ``per_doc`` rows are (doc_id, dl, tf0, tf1, …), one tf
    column per query term with ``dfs`` its document frequency.  Term
    contributions are summed in the fixed term order, so both inputs
    produce bit-identical floats (shared oracle)."""
    import math

    avgdl = total_dl / n  # IEEE double division, as in the SQL
    score = F.lit(0.0)
    for i, df_t in enumerate(dfs):
        idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)
        tf = F.col(f"tf{i}")
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)
        )
        score = score + F.lit(idf) * (tf * F.lit(BM25_K1 + 1.0)) / denom
    scored = per_doc.select("doc_id", F.round(score, 6).alias("bm25"))
    return (
        scored.filter(F.col("bm25") > 0.0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


POSTINGS_BUCKETS = 64


def write_postings(docs: DataFrame, path: str) -> None:
    """Materialize the corpus inverted index: one row per (term, doc)
    with the term frequency and the document length denormalized in
    (the classic postings-with-doc-stats layout), physically
    partitioned by a term-hash bucket.  At 100 TB this is the STORED
    retrieval table — written once per corpus/wave, probed by every
    query — and the bucket partitioning is what turns a term lookup
    into a partition-pruned scan of ``len(terms)/POSTINGS_BUCKETS`` of
    the files instead of the whole index.

    The corpus scalars BM25 needs (doc count, total token count) ride
    along as a one-row ``_stats`` side table computed in the same
    pass shape (fully partial-aggregable sums)."""
    toks = docs.select(
        "doc_id", X.ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    per_doc = toks.select(
        "doc_id", "toks", F.size("toks").alias("dl")
    )
    postings = (
        per_doc.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "bucket", F.pmod(F.crc32(F.col("term")), POSTINGS_BUCKETS)
        )
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(path)
    per_doc.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_dl")
    ).write.mode("overwrite").parquet(path + "_stats")


def bm25_topk_stored(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """BM25 top-k over the STORED inverted index (``write_postings``)
    — the high-query-volume counterpart of ``q_bm25_topk``'s two-pass
    corpus scan.  The probe (1) computes each query term's bucket
    driver-side (zlib.crc32 == Spark ``crc32``, so the partition
    predicate is a literal → static pruning), (2) scans ONLY those
    buckets' postings for the query terms — at scale a fixed handful
    of partitions, never the corpus — (3) takes per-term document
    frequencies from one metadata-scale aggregate over the pruned rows
    (postings hold tf>0 rows only, so COUNT(term) IS the df), and
    (4) pivots each candidate doc's tfs into fixed columns for the
    shared scorer (``_bm25_topk``) — bit-identical floats, shared
    oracle.  Docs matching no query term score exactly 0.0 in the
    inline pass and are filtered there; here they are simply never
    read."""
    import zlib

    buckets = sorted(
        {zlib.crc32(t.encode()) % POSTINGS_BUCKETS for t in terms}
    )
    pruned = spark.read.parquet(path).where(
        F.col("bucket").isin(buckets) & F.col("term").isin(list(terms))
    )
    stats = spark.read.parquet(path + "_stats").first()
    dfs = {
        r["term"]: r["cnt"]
        for r in pruned.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    per_doc = pruned.groupBy("doc_id").agg(
        F.max("dl").alias("dl"),
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
            )
            .cast("int")
            .alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    return _bm25_topk(
        per_doc,
        stats["n"],
        stats["total_dl"],
        [dfs.get(t, 0) for t in terms],
        k,
    )


def q_bm25_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k probing the materialized bucket-partitioned inverted
    index — bit-equal to ``q_bm25_topk`` (shares its oracle).  The
    layout is written once per corpus (at 100 TB it IS the stored
    retrieval table); the probe reads only the query terms' buckets."""
    path = _stored_layout(
        sf_dir,
        "doc_postings_v1",
        lambda p: write_postings(load(spark, sf_dir, "documents"), p),
        src_table="documents",
    )
    return bm25_topk_stored(spark, path)


# Reciprocal Rank Fusion (Cormack et al., SIGIR 2009): the standard
# hybrid-retrieval merge of a lexical and a dense ranking.  Scores in
# integer micro-units — floor(1e9/(RRF_K + rank)) — so the fused
# ordering is exact and engine-independent (1/(60+r) as a double would
# hang the comparison on float division).
RRF_K = 60
RRF_SCALE = 1_000_000_000
RRF_TOP_K = 10


def q_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical top-k (documents table)
    with the cosine dense top-k (embeddings table, vec_id == doc_id)
    by Reciprocal Rank Fusion — the production shape of every modern
    RAG / eval-retrieval stack, and the natural composition of the two
    retrieval families this engine already verifies independently.

    Scale shape: each arm is its own optimal plan (BM25's shuffle-free
    scoring scan + TakeOrderedAndProject; cosine's broadcast-query
    map-side scan + TakeOrderedAndProject) and emits ≤ k rows.  The
    fusion — rank assignment, full-outer id join, integer RRF sum —
    runs on those k-row frames, so its global windows and join are
    metadata-scale BY CONSTRUCTION (k rows, not corpus rows), the same
    argument as the IVF codebook.  The corpus is scanned once per arm
    and never shuffled."""
    from pyspark.sql.window import Window

    bm = q_bm25_topk(spark, sf_dir)  # ≤ BM25_TOP_K rows
    dn = q_cosine_topk(spark, sf_dir)  # 10 rows
    bm_r = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("bm25_rank"),
    )
    dn_r = dn.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .alias("cosine_rank"),
    )
    fused = bm_r.join(dn_r, "doc_id", "full").select(
        "doc_id",
        "bm25_rank",
        "cosine_rank",
        (
            F.coalesce(
                F.expr(f"{RRF_SCALE} DIV ({RRF_K} + bm25_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_SCALE} DIV ({RRF_K} + cosine_rank)"),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    return fused.orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    ).limit(RRF_TOP_K)


# Sliding-window chunking: window/stride in whitespace tokens (the
# embedding-pipeline prep shape: overlap = CHUNK_TOKENS - CHUNK_STRIDE).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking — the retrieval/embedding-pipeline
    prep step: split each document's token stream into windows of
    ``CHUNK_TOKENS`` tokens advancing by ``CHUNK_STRIDE`` (16-token
    overlap), one output row per chunk.

    Scale shape: entirely map-side — tokenize, compute the chunk count
    arithmetically, ``explode(sequence(...))``, then ``slice`` the
    already-tokenized array per chunk.  No shuffle, no window function,
    no per-row Python; output partitioning follows the scan, so a
    downstream embedding stage consumes chunks with zero exchanges.
    Empty documents emit no chunks; every non-empty document emits at
    least one (its full token list when shorter than a window).  All
    arithmetic is integer-exact, so the oracle compares chunk TEXT
    byte-for-byte."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.ws_tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.lit(1)
        + F.floor(
            (n - CHUNK_TOKENS + (CHUNK_STRIDE - 1)) / F.lit(CHUNK_STRIDE)
        ).cast("int")
    )
    c = toks.filter(n > 0).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("toks"),
        F.col("chunk_id") * CHUNK_STRIDE + 1,
        F.lit(CHUNK_TOKENS),
    )
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        (F.col("chunk_id") * CHUNK_STRIDE).cast("int").alias("start_token"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


HH_K = 64  # counters kept per partition summary


def mg_candidates(
    df: DataFrame, toks_col: str = "toks", k: int = HH_K
) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitter CANDIDATES over a token
    stream (Misra & Gries 1982; merge rule from Agarwal et al. 2012,
    "Mergeable Summaries").

    Shape at 100 TB: one Arrow-batched pass per partition holding at
    most ``k`` counters — no shuffle, no global state; the output is
    ≤ k rows PER PARTITION regardless of corpus size, so the exact
    verification count that follows joins against a driver-broadcastable
    candidate set.  Per batch the token mass is folded with pandas
    ``value_counts`` (C-level), then merged into the running summary;
    when the summary exceeds ``k`` counters it is shrunk by subtracting
    the (k+1)-th largest counter from all and dropping the non-positive
    ones — the mergeable-summaries rule, which keeps the classic MG
    guarantee additive across batches: any token whose true count in
    the partition exceeds (partition mass)/(k+1) survives.  Summing
    over partitions, any token with global count > N/(k+1) survives in
    at least one partition (averaging argument), so the union of
    partition survivors is a SUPERSET of the true φ=1/(k+1) heavy
    hitters — exactness is then restored by the caller's exact recount
    of candidates only (the LSH candidates-then-verify pattern).

    The final filtered result is therefore deterministic — independent
    of partitioning, batch sizes, and visit order — which is what makes
    an exact SQL oracle possible for a sketch-based operator.
    """
    import heapq

    import pandas as pd

    def gen(batches):
        counters: dict[str, int] = {}
        get = counters.get
        for pdf in batches:
            s = pdf[toks_col].explode().dropna()
            if s.empty:
                continue
            for tok, cnt in s.value_counts().items():
                counters[tok] = get(tok, 0) + int(cnt)
                get = counters.get
            if len(counters) > k:
                pivot = heapq.nlargest(k + 1, counters.values())[-1]
                counters = {
                    t: c - pivot for t, c in counters.items() if c > pivot
                }
                get = counters.get
        yield pd.DataFrame({"token": list(counters)})

    return df.select(toks_col).mapInPandas(gen, schema="token string")


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via a per-partition Misra-Gries sketch plus
    an exact recount of the candidates — hot-domain / hot-token
    detection over a stream too large for an exact full GROUP BY.

    Scale shape (``mg_candidates`` above): the sketch
    pass is one Arrow-batched map over partitions holding ≤ k counters
    each and emitting ≤ k candidate rows per partition (no shuffle);
    the exact pass recounts ONLY the candidates via a broadcast
    semi-join, so the aggregation shuffle carries candidate tokens
    instead of the full vocabulary.  The MG superset guarantee (any
    token with count > N/(k+1) survives some partition's sketch) plus
    the exact threshold filter make the result deterministic —
    independent of partitioning and batch order — hence exactly
    oracle-comparable: tokens whose count·(k+1) > N."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(X.ws_tokens(F.lower(F.col("text"))).alias("toks"))
    total = toks.agg(F.sum(F.size("toks"))).first()[0] or 0  # 1 metadata row
    cand = mg_candidates(toks).distinct()
    exploded = toks.select(F.explode("toks").alias("token"))
    counts = exploded.join(F.broadcast(cand), "token").groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    return counts.filter(
        F.col("n_occurrences") * (HH_K + 1) > F.lit(int(total))
    )


# IDF-weighted shingle cosine: document-frequency cut bounds the
# inverted-index join fanout at C(TFIDF_MAX_DF, 2) pairs per shingle.
TFIDF_MIN_DF = 2
TFIDF_MAX_DF = 64
TFIDF_IDF_SCALE = 1_000_000
TFIDF_MIN_COSINE = 0.3


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse similarity: idf-weighted cosine over binary
    3-word-shingle vectors via an inverted-index self-join (the
    Bayardo et al. 2007 all-pairs pattern), with a document-frequency
    cut — the weighted-lexical member of the near-dup family next to
    MinHash (set Jaccard) and SimHash (Hamming).

    Scale shape: explode distinct shingles → df per shingle (partial
    aggregable) → KEEP only shingles with df in [TFIDF_MIN_DF,
    TFIDF_MAX_DF].  The df cut is the scale lever: ubiquitous
    (stopword-like) shingles that would quadratically dominate the
    self-join are dropped — standard practice for all-pairs similarity
    — so join fanout is ≤ C(64,2) pairs per shingle.  Weights are
    INTEGER-quantized idf values (round(ln(N/df)·1e6), driver-computed
    with glibc ``math.log``, the ``bm25_topk`` cross-engine-exactness
    pattern) so dot products and norms are exact int64 sums —
    join-order-proof — and the only float ops are one cast, one
    multiply, one sqrt, one divide, one round, identical IEEE-754
    trees in both engines.  df ∈ [2, 64] means the idf table is ≤ 63
    rows: broadcast."""
    import math

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # one metadata scalar, as in bm25_topk
    per = docs.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"))).alias("s")
    )
    dfs = (
        per.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= TFIDF_MIN_DF) & (F.col("df") <= TFIDF_MAX_DF)
        )
    )
    idf_rows = [
        (d, int(round(math.log(n_docs / d) * TFIDF_IDF_SCALE)))
        for d in range(TFIDF_MIN_DF, TFIDF_MAX_DF + 1)
    ]
    idf = spark.createDataFrame(idf_rows, "df long, idf_q long")
    # dfs is CORPUS-SCALED (one row per distinct kept shingle) — no
    # broadcast hint on it (review r4: a forced broadcast dies at the
    # 8 GB ceiling on a web-scale corpus); the shuffle join on `s` is
    # the same exchange the all-pairs self-join below needs anyway,
    # and AQE may still elect a broadcast when dfs is actually small.
    # Only the ≤63-row idf table is hint-broadcast.
    weighted = per.join(dfs, "s").join(
        F.broadcast(idf), "df"
    ).select("doc_id", "s", "idf_q")
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("idf_q") * F.col("idf_q")).alias("norm2")
    )
    a, b = weighted.alias("a"), weighted.alias("b")
    pairs = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("a.idf_q") * F.col("b.idf_q")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("norm2").alias("norm_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("norm2").alias("norm_b")
    )
    scored = (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot")
                / F.sqrt(
                    F.col("norm_a").cast("double")
                    * F.col("norm_b").cast("double")
                ),
                6,
            ).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= TFIDF_MIN_COSINE)


# Lexical quality scorer: broadcastable vocabulary cap.
QSCORE_VOCAB = 4096


def q_quality_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained lexical quality scorer (the DCLM/fastText-
    classifier pattern: learn token weights from weak labels, score
    every document with the learned model).  The weak labels are the
    rule-based ``quality_filter`` verdicts; the model is a
    difference-of-document-frequency linear classifier with INTEGER
    weights: w(t) = df_keep(t)·N_drop − df_drop(t)·N_keep (sign =
    class association, cross-multiplied so class imbalance cancels
    without fractions).  A doc's score is the sum of w(t) over its
    DISTINCT tokens; pred_keep = score above the corpus MEAN score,
    compared in exact integers (score·N > Σscores — the raw sign is
    length-dominated because keep-docs are longer, so the zero
    threshold degenerates to all-True; mean-calibration is the
    standard operating-point fix and stays bit-exact).

    Scale shape: training is one explode → hash-aggregate on token
    (partial map-side), capped to the top-``QSCORE_VOCAB`` tokens by
    document frequency via TakeOrderedAndProject — the broadcast is
    bounded by construction, the hashing-trick analog of fastText's
    fixed bucket table.  Scoring folds the broadcast token→weight map
    over each doc's token array with a higher-order ``aggregate`` —
    the corpus-side pass has ZERO exchanges (same one-row-metadata
    pattern as ``bm25_topk``).  Integer weights are the cross-engine
    exactness device at test scale; at 10^12 docs the cross-products
    overflow int64, so the production variant scales the counts to
    per-million rates or uses float log-odds — the plan shape is
    identical."""
    docs = load(spark, sf_dir, "documents")
    m = _quality_metrics(
        docs,
        F.array_distinct(X.ws_tokens(F.lower(F.col("text")))).alias("toks"),
    )
    # Three downstream passes (class totals, token-class counts, the
    # scoring map) all consume this projection; materialize it once —
    # the regex-heavy text metrics are the dominant cost and a real
    # training pipeline would persist its feature table anyway.
    base = m.select(
        "doc_id", "toks", (_quality_reason_expr() == "ok").alias("keep")
    ).localCheckpoint(eager=True)
    totals = base.agg(
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum((~F.col("keep")).cast("long")).alias("n_drop"),
    ).first()
    n_keep, n_drop = totals["n_keep"], totals["n_drop"]
    counts = (
        base.select(F.explode("toks").alias("token"), "keep")
        .groupBy("token")
        .agg(
            F.sum(F.col("keep").cast("long")).alias("df_keep"),
            F.sum((~F.col("keep")).cast("long")).alias("df_drop"),
        )
    )
    weights = (
        counts.orderBy(
            F.desc(F.col("df_keep") + F.col("df_drop")), F.asc("token")
        )
        .limit(QSCORE_VOCAB)
        .select(
            "token",
            (
                F.col("df_keep") * F.lit(n_drop)
                - F.col("df_drop") * F.lit(n_keep)
            ).alias("w"),
        )
    )
    wmap = weights.agg(
        F.map_from_entries(
            F.collect_list(F.struct("token", "w"))
        ).alias("wm")
    )
    scored = base.crossJoin(F.broadcast(wmap)).select(
        "doc_id",
        F.aggregate(
            "toks",
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.coalesce(F.element_at(F.col("wm"), t), F.lit(0).cast("long")),
        ).alias("score"),
        F.col("keep").alias("label_keep"),
    )
    cal = scored.agg(
        F.sum("score").alias("tot"), F.count(F.lit(1)).alias("n")
    ).first()
    return scored.select(
        "doc_id",
        "score",
        (F.col("score") * F.lit(cal["n"]) > F.lit(cal["tot"])).alias(
            "pred_keep"
        ),
        "label_keep",
    )


# DSIR importance weighting: hashing-trick feature space + target set.
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def _dsir_bucket(tok: Column) -> Column:
    """Hashed unigram feature bucket (the DSIR hashing trick): md5-
    derived 60-bit integer mod DSIR_BUCKETS.  SQL twin inlined in the
    oracle via _MD5INT."""
    return F.pmod(X.md5_int(tok), F.lit(DSIR_BUCKETS))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): estimate hashed-
    unigram bag-of-words models for a TARGET domain (here the
    ``lang = 'en'`` slice — the Wikipedia/Books stand-in) and for the
    RAW corpus, then score every document with its log importance
    weight  Σ_t [ log p̂(b(t)) − log q̂(b(t)) ]  (add-1 smoothed), the
    quantity DSIR resamples by.  ``selected`` marks docs above the
    corpus-mean weight — the same exact-integer mean calibration as
    ``quality_lexical`` (a deterministic stand-in for Gumbel-top-k
    resampling, which is noise by construction).

    Scale shape: feature estimation is ONE explode → hash-aggregate
    pass whose key space is fixed at DSIR_BUCKETS=256 (map-side
    partial agg collapses every partition to ≤256 rows before the
    exchange — at 10^12 docs the shuffle moves KB, not the corpus);
    both class counts ride the same pass as conditional sums.  The
    256-entry weight table is driver-side metadata (the IVF-codebook
    pattern), baked into the scoring pass as an array literal indexed
    by bucket — scoring is a ZERO-exchange map over the corpus.

    The md5 token hash is the expensive per-token kernel, and the
    query's three passes (feature counts, mean calibration, final
    scores) would each recompute it from raw text — so the hashed
    bucket arrays are computed ONCE and persisted (one int per token:
    ~1/10 the text's footprint; at 100 TB this intermediate is the
    thing you'd materialize to storage between the estimate and score
    stages), and the tiny (doc_id, iw) score table is persisted again
    so calibration and the returned frame share one fold.  Measured at
    500k docs this recompute elision is 71.9 s → 33.2 s.

    Cross-engine exactness: per-bucket weights are integers
    floor(1e6 · log-ratio) — driver ``math.log`` is bit-identical to
    DuckDB ``ln`` (same libm, the ``bm25_topk`` precedent), ``floor``
    avoids round-half tie divergence, and integer sums are
    order-independent, so the oracle reproduces scores exactly."""
    import math

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        X.ws_tokens(F.lower(F.col("text"))).alias("toks"),
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
    )
    bucketed = base.select(
        "doc_id",
        "is_target",
        F.transform(F.col("toks"), _dsir_bucket).alias("buckets"),
    ).persist()
    counts = (
        bucketed.select(F.explode("buckets").alias("bucket"), "is_target")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("q_cnt"),
            F.sum(F.col("is_target").cast("long")).alias("p_cnt"),
        )
        .collect()
    )
    p = {r["bucket"]: r["p_cnt"] for r in counts}
    q = {r["bucket"]: r["q_cnt"] for r in counts}
    tp = sum(p.values()) + DSIR_BUCKETS
    tq = sum(q.values()) + DSIR_BUCKETS
    # floor(1e6·(((ln(p+1) − ln tp) − ln(q+1)) + ln tq)) — association
    # order mirrors the oracle's `a - b - c + d` (left-assoc) exactly.
    # F.lit(list) → one array Literal (a 256 × F.lit CreateArray is
    # re-evaluated per element_at inside the interpreted fold).
    warr = F.lit(
        [
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
    )
    scored = bucketed.select(
        "doc_id",
        F.aggregate(
            "buckets",
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.element_at(warr, (b + 1).cast("int")),
        ).alias("iw"),
    ).persist()
    cal = scored.agg(
        F.sum("iw").alias("tot"), F.count(F.lit(1)).alias("n")
    ).first()
    bucketed.unpersist()
    return scored.select(
        "doc_id",
        "iw",
        (F.col("iw") * F.lit(cal["n"]) > F.lit(cal["tot"])).alias(
            "selected"
        ),
    )


# CCNet-style perplexity filter: hashed-bigram LM trained on the
# target slice; head/middle/tail buckets relative to the CORPUS-level
# cross-entropy H = Σnll/Σn (per-mille factors, compared in exact
# integers — absolute cuts can't survive corpus-size shifts: more
# training mass lowers every xent).
PPLX_U_BUCKETS = 256
PPLX_B_BUCKETS = 4096
PPLX_HEAD_PM = 995  # head: xent ≤ 0.995·H
PPLX_TAIL_PM = 1005  # tail: xent > 1.005·H


def q_ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM perplexity filter (Wenzek et al. 2020): score
    every document by its cross-entropy under a language model trained
    on the target domain (CCNet uses a Wikipedia KenLM; here a
    hashing-trick add-1-smoothed BIGRAM model over the ``lang='en'``
    slice — the same target as ``dsir_weights``), then bucket into
    head/middle/tail, the split CCNet pipelines keep/sample/drop.

    Model: ln p(w2|w1) ≈ ln(c(b2(w1,w2)) + 1) − ln(c(b1(w1)) + B)
    with bigrams hashed jointly into ``PPLX_B_BUCKETS`` and prefixes
    into ``PPLX_U_BUCKETS`` (bounded-size model by construction — the
    fixed-artifact property the real KenLM has).  xent = −mean per
    bigram position; docs with <2 tokens land in 'short'.

    Scale shape: training is one explode over TARGET bigram positions
    feeding two fixed-key hash aggregates (≤4096/≤256 rows out of the
    partial agg per partition); both count tables are driver metadata
    baked into the scoring pass as literal arrays, so corpus scoring
    is scan → project, ZERO exchanges, no explode (per-token work is
    an in-row fold).  Cross-engine exactness: per-position integer
    weights floor(1e6·ln), order-independent integer sums, and the
    head/tail split is relative to the corpus cross-entropy H=Σnll/Σn
    compared in exact cross-multiplied integers (nll_d·Σn·1000 vs
    Σnll·τ‰·n_d); the 6-dp xent itself is rounded in EXACT integer
    micro-nats (half-up (2·nll+n)//(2n)) before one shared double
    division, because engine-level round() implementations disagree by
    1 ulp at half boundaries (surfaced at sf0.1: 11/5000 rows)."""
    import math

    docs = load(spark, sf_dir, "documents")

    def bigram_cols(toks_expr: Column) -> Column:
        # let-bound: an unbound token expr referenced inside the
        # transform lambda re-splits the text per bigram position
        # (O(tokens²) — the dup_ngram_stats lesson; 15 s → ~2 s here)
        def body(toks: Column) -> Column:
            return F.transform(
                F.slice(toks, 1, F.size(toks) - 1),
                lambda x, i: F.struct(
                    F.pmod(X.md5_int(x), F.lit(PPLX_U_BUCKETS)).alias(
                        "b1"
                    ),
                    F.pmod(
                        X.md5_int(
                            F.concat(
                                x,
                                F.lit(" "),
                                F.element_at(
                                    toks, (i + F.lit(2)).cast("int")
                                ),
                            )
                        ),
                        F.lit(PPLX_B_BUCKETS),
                    ).alias("b2"),
                ),
            )

        return X.let(toks_expr, body)

    toks = X.ws_tokens(F.lower(F.col("text")))
    target_pairs = (
        docs.where(F.col("lang") == DSIR_TARGET_LANG)
        .select(F.explode(bigram_cols(toks)).alias("bg"))
        .select("bg.b1", "bg.b2")
        .persist()  # two count jobs share one bigram+hash pass
    )
    try:
        c2 = {
            r["b2"]: r["c"]
            for r in target_pairs.groupBy("b2")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        c1 = {
            r["b1"]: r["c"]
            for r in target_pairs.groupBy("b1")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
    finally:
        target_pairs.unpersist()
    # F.lit(list) → ONE array Literal; F.array(4096 × F.lit) builds a
    # CreateArray re-evaluated per element_at inside the interpreted
    # fold (measured: the difference between 12 s and 2 s at sf0.1)
    barr = F.lit(
        [
            math.floor(1e6 * math.log(c2.get(j, 0) + 1))
            for j in range(PPLX_B_BUCKETS)
        ]
    )
    uarr = F.lit(
        [
            math.floor(1e6 * math.log(c1.get(i, 0) + PPLX_B_BUCKETS))
            for i in range(PPLX_U_BUCKETS)
        ]
    )
    lp = F.aggregate(
        bigram_cols(toks),
        F.lit(0).cast("long"),
        lambda acc, bg: acc
        + F.element_at(barr, (bg["b2"] + 1).cast("int"))
        - F.element_at(uarr, (bg["b1"] + 1).cast("int")),
    )
    n = F.size(toks) - 1
    scored = docs.select(
        "doc_id",
        n.cast("long").alias("n_bigrams"),
        (-lp).alias("nll_scaled"),
    ).localCheckpoint(eager=True)
    tot = scored.agg(
        F.sum("nll_scaled").alias("nll"),
        F.sum(F.greatest(F.col("n_bigrams"), F.lit(0))).alias("n"),
    ).first()
    # bucket: nll_d·(Σn·1000) vs (Σnll·τ)·n_d — exact int64 at test
    # scale (overflow headroom documented; production uses doubles)
    a = int(tot["n"]) * 1000
    b_head = int(tot["nll"]) * PPLX_HEAD_PM
    b_tail = int(tot["nll"]) * PPLX_TAIL_PM
    return scored.select(
        "doc_id",
        # 6-dp xent via EXACT integer half-up rounding to micro-nats:
        # (2·nll + n) // (2·n), then ONE division by 1e6 (identical
        # IEEE op on identical operands both engines).  engine round()
        # vs DuckDB round() disagree by 1 ulp on quotients that land
        # on a half boundary — 11/5000 rows at sf0.1 — so the float
        # round() never touches the compared value.
        F.when(F.col("n_bigrams") <= 0, F.lit(0.0))
        .otherwise(
            F.floor(
                (F.col("nll_scaled") * 2 + F.col("n_bigrams"))
                / (F.col("n_bigrams") * 2)
            ).cast("double")
            / F.lit(1e6)
        )
        .alias("xent"),
        F.when(F.col("n_bigrams") <= 0, F.lit("short"))
        .when(
            F.col("nll_scaled") * F.lit(a)
            <= F.lit(b_head) * F.col("n_bigrams"),
            F.lit("head"),
        )
        .when(
            F.col("nll_scaled") * F.lit(a)
            > F.lit(b_tail) * F.col("n_bigrams"),
            F.lit("tail"),
        )
        .otherwise(F.lit("middle"))
        .alias("bucket"),
    )


PACK_CHUNK_TOKENS = 512
PACK_BUCKETS = 8


def _global_prefix_sum(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n"
) -> DataFrame:
    """Two-phase distributed GLOBAL prefix sum in ``id_col`` order —
    the scale-honest decomposition q_sequence_pack documents (a window
    over a global ORDER BY with no partition key collapses the corpus
    into one task): deterministic range bucket that is a pure function
    of the id, bucket-local running sums, per-bucket totals to the
    driver (metadata), broadcast base offsets back.  Returns the input
    columns plus ``start`` (sum of ``n_col`` over all earlier ids)."""
    from pyspark.sql.window import Window

    lo, hi = df.agg(F.min(id_col), F.max(id_col)).first() or (None, None)
    if lo is None:
        width = 1
        lo = 0
    else:
        width = max(1, (hi - lo + PACK_BUCKETS) // PACK_BUCKETS)
    df = df.withColumn(
        "pid", ((F.col(id_col) - F.lit(lo)) / F.lit(width)).cast("int")
    )
    totals = {
        r["pid"]: r["total"]
        for r in df.groupBy("pid")
        .agg(F.sum(n_col).alias("total"))
        .collect()
    }
    base = {}
    acc = 0
    for pid in sorted(totals):
        base[pid] = acc
        acc += totals[pid]
    base_col = (
        F.coalesce(
            *[
                F.when(F.col("pid") == pid, F.lit(off))
                for pid, off in base.items()
            ]
        )
        if base
        else F.lit(0)
    )
    w = (
        Window.partitionBy("pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prefix = F.coalesce(F.sum(n_col).over(w), F.lit(0))
    return df.withColumn("start", base_col + local_prefix).drop("pid")


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining (concat-and-chunk: documents
    concatenated in doc_id order, split into fixed
    ``PACK_CHUNK_TOKENS`` training examples, documents spanning chunk
    boundaries) — each doc's global token offset decides its chunk
    assignment.

    The offset is a GLOBAL prefix sum, and the naive Spark spelling —
    a window over a global ORDER BY with no partition key — collapses
    the whole corpus into one task.  This query does it the
    scale-honest way, the textbook two-phase distributed scan: assign
    each doc a range bucket that is a PURE FUNCTION of doc_id (explicit
    boundaries from a collected min/max — NOT ``spark_partition_id``
    after ``repartitionByRange``, whose sampled exchange can re-run
    with different boundaries between the totals job and the output
    job, silently misaligning base offsets), compute bucket-LOCAL
    running sums with a window keyed on the bucket, collect only the
    per-bucket totals to the driver (metadata, not data), and add each
    bucket's broadcast base offset.  Deterministic bucketing also
    removes the need to pin a persisted exchange across two jobs.  For
    sparse/skewed id spaces the even-width split becomes
    ``approxQuantile`` boundaries; the algebra is unchanged.  The
    DuckDB oracle uses the single-node global window — agreeing with
    it is evidence the two-phase decomposition is exact."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", X.token_count(F.col("text")).alias("n_tokens")
    )
    out = _global_prefix_sum(toks, n_col="n_tokens").withColumnRenamed(
        "start", "start_token"
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "start_token",
        F.expr(f"start_token DIV {PACK_CHUNK_TOKENS}").alias(
            "first_chunk"
        ),
        F.expr(
            f"(start_token + n_tokens - 1) DIV {PACK_CHUNK_TOKENS}"
        ).alias("last_chunk"),
    ).withColumn(
        "spans_boundary", F.col("first_chunk") != F.col("last_chunk")
    )


TRAIN_SHUFFLE_SEED = "shuffle-seed-1|"


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training: every document gets
    a reproducible global position in the training stream, ordered by
    a seeded content-independent hash (the standard pretraining data
    shuffle — epoch order must be reproducible across reruns and
    independent of partitioning, and a global ``ORDER BY rand()`` is
    neither).

    Scale shape: the shuffle key is md5(seed || doc_id), and the
    GLOBAL ordinal is the two-phase decomposition q_sequence_pack
    documents — here the range bucket is simply the hash's first hex
    byte (a prefix of the sort key, so lexicographic bucket order IS
    global hash order): bucket-local row_number over (hash, doc_id),
    256 per-bucket counts to the driver (metadata), broadcast base
    offsets back.  No global window, no single-task sort; md5 buckets
    are uniform by construction, so no bucket skews.  The oracle is
    the single-node global window — agreement is evidence the
    decomposition is exact."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        F.md5(
            F.concat(
                F.lit(TRAIN_SHUFFLE_SEED), F.col("doc_id").cast("string")
            )
        ).alias("h"),
    ).withColumn("bucket", F.substring("h", 1, 2))
    totals = {
        r["bucket"]: r["cnt"]
        for r in hashed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    base = {}
    acc = 0
    for b in sorted(totals):
        base[b] = acc
        acc += totals[b]
    base_col = (
        F.coalesce(
            *[
                F.when(F.col("bucket") == b, F.lit(off))
                for b, off in base.items()
            ]
        )
        if base
        else F.lit(0)
    )
    w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    return hashed.select(
        "doc_id",
        (base_col + F.row_number().over(w) - 1)
        .cast("long")
        .alias("train_pos"),
    )


def q_pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipeline.shuffled_pack`` over the documents table: training
    order and token offsets fused into ONE bucket decomposition — the
    primitive the end-to-end ``pipeline`` job packs with (packing
    happens in shuffled EPOCH order, not id order; see pipeline.py for
    the scale rationale).  Oracle: the single-node global window over
    the same md5 sort key — agreement is evidence the two-base
    decomposition (position base + token base from one 256-row totals
    collect) is exact."""
    from .pipeline import shuffled_pack

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return shuffled_pack(docs, chunk_tokens=PACK_CHUNK_TOKENS)


def q_pipeline_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipeline.materialize_chunks`` over the documents table: the
    actual fixed-size training examples cut from the shuffled token
    stream.  One array-slice row per document-chunk overlap crosses
    the shuffle (never a row per token — the ``packed_examples``
    spelling); the oracle re-derives every example with a per-token
    zipped-unnest global window, so example strings, chunk ids, and
    lengths must all match token-exactly."""
    from .pipeline import materialize_chunks, shuffled_pack

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    pack = shuffled_pack(docs, chunk_tokens=PACK_CHUNK_TOKENS)
    return materialize_chunks(
        docs, pack, chunk_tokens=PACK_CHUNK_TOKENS
    )


def _incremental_packs(spark: SparkSession, sf_dir: str):
    """Shared setup for the epoch-scoped packing queries: every 5th
    doc plays the new crawl wave (the ``q_incremental_dedup``
    convention), the rest is the committed corpus.  Epoch 0 is the
    one-shot pack of the corpus; epoch 1 packs ONLY the wave, shuffled
    among itself, with train positions continuing after epoch 0's
    count and token offsets continuing on the next CHUNK boundary
    (epoch boundaries are hard chunk boundaries —
    ``pipeline.run_pipeline_wave`` semantics, where committed epochs
    are never rewritten).  The bases come from one column-pruned
    count/sum aggregate — the production path records them at commit
    instead, in the state snapshot (next train position = base + kept
    docs, next token = base + examples × chunk), so it never re-reads
    the stored corpus."""
    from .pipeline import shuffled_pack

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_wave = F.col("doc_id") % WAVE_MOD == 0
    corpus, wave = docs.where(~is_wave), docs.where(is_wave)
    C = PACK_CHUNK_TOKENS
    p0 = shuffled_pack(corpus, chunk_tokens=C)
    tot = (
        corpus.select(X.token_count(F.col("text")).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("t"),
        )
        .first()
    )
    base_pos, toks0 = int(tot["c"]), int(tot["t"])
    base_tok = ((toks0 - 1) // C + 1) * C if toks0 > 0 else 0
    p1 = shuffled_pack(
        wave, chunk_tokens=C, base_pos=base_pos, base_tok=base_tok
    )
    return corpus, wave, p0, p1


def q_pipeline_pack_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Epoch-scoped ``shuffled_pack`` — the packing step of the
    wave-incremental pipeline (``run_pipeline_wave``): wave documents
    get positions/offsets APPENDED after the committed corpus without
    re-deriving its global order.  The oracle re-derives both epochs
    with single-node global windows plus scalar-subquery bases, so
    agreement pins the epoch bases (count / chunk-aligned token
    offset) and the per-epoch shuffles exactly."""
    corpus, wave, p0, p1 = _incremental_packs(spark, sf_dir)
    return (
        p0.withColumn("epoch", F.lit(0))
        .unionByName(p1.withColumn("epoch", F.lit(1)))
    )


def q_pipeline_verdicts_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental curation of a new crawl wave against corpus state —
    the curation step of ``run_pipeline_wave``, as a pure composition:
    every 5th doc plays the wave, the rest is the committed corpus
    whose content-key table and write-time-capped band index stand in
    for the persisted ``out/state`` tables, and benchmark docs
    (stored ids < 10) drive decontamination.  Statuses carry the full
    funnel vocabulary with the epoch semantics documented in
    pipeline.py: a wave doc duplicating a STORED doc is
    exact_dup/near_dup with the stored doc as canonical; within-wave
    clusters canonicalize by min label.  The oracle re-derives all of
    it — wave-side band probe, within-wave recursive-CTE components,
    stored-key coalescing — in SQL."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_wave = F.col("doc_id") % WAVE_MOD == 0
    corpus, wave = docs.where(~is_wave), docs.where(is_wave)
    stored_ck = (
        corpus.select(
            "doc_id", F.md5(D.normalized_text(F.col("text"))).alias("ck")
        )
        .groupBy("ck")
        .agg(F.min("doc_id").alias("canon"))
    )
    index = D.capped_band_index(corpus)
    bench = corpus.where(F.col("doc_id") < DECONTAM_BENCH_IDS)
    return curation_verdicts(
        wave, bench, None, stored_ck=stored_ck, index=index
    )


def q_pipeline_chunks_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-size training examples across BOTH epochs of the
    incremental pack: chunk ids are globally disjoint by construction
    (epoch 1 starts on the chunk after epoch 0's last), and the
    per-token oracle re-derives every example, so the boundary chunk
    (epoch 0's short final chunk stays short) must match exactly."""
    from .pipeline import materialize_chunks

    corpus, wave, p0, p1 = _incremental_packs(spark, sf_dir)
    C = PACK_CHUNK_TOKENS
    return materialize_chunks(corpus, p0, chunk_tokens=C).unionByName(
        materialize_chunks(wave, p1, chunk_tokens=C)
    )


DUP_NGRAM_N = 3


def q_dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/Dolma-style corpus-level repetition: for each doc,
    the fraction of its word 3-grams that occur more than once in the
    WHOLE corpus (cross-document boilerplate signal — template
    sentences score high).

    Dataflow: n-grams are generated map-side (``word_ngrams``), one
    map-side-partial shuffle builds the global gram→count table, and
    the count table joins back to the gram stream.  At test scale the
    count table fits the broadcast threshold, so the gram stream is
    NEVER shuffled for the join (verified plan: BroadcastHashJoin,
    zero exchanges on the document branch).  At 100 TB the join
    becomes a sort-merge on gram where the counts side reuses its
    aggregation partitioning (ENSURE_REQUIREMENTS adds no second
    exchange) and the gram stream shuffles once — the minimum any
    global-count formulation can do.  The per-doc rollup is a second,
    doc-keyed partial aggregation."""
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(X.word_ngrams(F.col("text"), DUP_NGRAM_N)).alias("gram"),
    )
    counts = grams.groupBy("gram").agg(F.count("*").alias("cnt"))
    return (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*").cast("double"),
                6,
            ).alias("dup_gram_frac"),
        )
    )


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
# fingerprint scheme): token k-grams, window of WINNOW_W consecutive
# gram hashes, select the window minimum (rightmost on ties).
# Guarantees every shared run of WINNOW_W+WINNOW_K-1 tokens yields at
# least one shared fingerprint, at expected density 2/(W+1).
WINNOW_K = 3
WINNOW_W = 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints — the position-aware
    complement of the MinHash/SimHash whole-doc sketches: selected
    (position, hash) pairs localize WHERE two documents overlap
    (plagiarism/quote detection, partial-copy mining), with the
    winnowing guarantee that any sufficiently long shared substring
    is always detected regardless of alignment.

    Scale shape: ENTIRELY map-side — gram hashing, the sliding
    window-min, rightmost-tie selection, and the dedup of adjacent
    windows that picked the same gram are all higher-order array
    expressions over the let-bound hash array (no window function, no
    self-join); ``array_distinct`` runs before the explode, so the
    operator emits ~2/(W+1) of the gram stream with ZERO exchanges.
    A downstream cross-doc probe groups the output by fp — one
    partial-aggregable shuffle of the fingerprints, never the text.
    All hashes are 60-bit md5 ints (the shared oracle idiom), so the
    oracle matches exactly."""
    docs = load(spark, sf_dir, "documents")

    def _fps(hs: Column) -> Column:
        n = F.size(hs)
        m = F.greatest(n - (WINNOW_W - 1), F.lit(1))

        def _sel(i: Column) -> Column:
            win = F.slice(hs, i + 1, WINNOW_W)
            return X.let(
                F.array_min(win),
                lambda mn: F.struct(
                    (
                        i
                        + F.array_max(
                            F.filter(
                                F.sequence(F.lit(0), F.size(win) - 1),
                                lambda j: F.element_at(win, j + 1) == mn,
                            )
                        )
                    )
                    .cast("int")
                    .alias("pos"),
                    mn.alias("fp"),
                ),
            )

        return F.when(n == 0, F.array().cast(
            "array<struct<pos:int,fp:bigint>>"
        )).otherwise(
            F.array_distinct(
                F.transform(F.sequence(F.lit(0), m - 1), _sel)
            )
        )

    grams = X.word_ngrams(F.col("text"), WINNOW_K)
    hashed = F.transform(grams, lambda g: X.md5_int(g))
    return docs.select(
        "doc_id",
        F.explode(X.let(hashed, _fps)).alias("s"),
    ).select("doc_id", "s.pos", "s.fp")


# ---------------------------------------------------------------------------
# Deduplication (documents table)
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load(spark, sf_dir, "documents"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus-wide line dedup: a line survives only
    in the document where it first appears (global (doc_id, pos)
    order); documents are reassembled from surviving lines.  See
    ``functions/dedup.py::line_dedup`` for the skew-robust
    min-struct-aggregate + AQE-skew-join shape."""
    return D.line_dedup(load(spark, sf_dir, "documents"))


# Exact-substring dedup window width, in tokens.  Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better") uses 50
# BPE tokens over a suffix array; the synthetic corpus averages ~60
# words per doc, so 8 keeps the operator observable at test scale.  At
# production scale only this constant changes.
EXSUB_W = 8


def doc_windows(
    docs: DataFrame, text_col: str = "text", w: int = EXSUB_W
) -> DataFrame:
    """Every overlapping ``w``-token window of every document:
    (doc_id, s, win_key) with ``s`` the 0-based start token position
    and ``win_key`` = md5 of the space-joined window (md5 so the DuckDB
    oracle reproduces keys bit-identically; at 100 TB the fixed 32-byte
    key is also what you want shuffling instead of raw token runs).

    Window generation is pure JVM array algebra on the document scan —
    map-side, zero exchanges before the explode.  The token array is
    let-bound (HOFs are interpreted with no CSE; an unbound split
    re-tokenizes per window position — the measured O(n²) trap)."""
    wins = X.let(
        X.ws_tokens(F.col(text_col)),
        lambda toks: F.when(
            F.size(toks) < w, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - w),
                lambda i: F.md5(F.array_join(F.slice(toks, i + 1, w), " ")),
            )
        ),
    )
    return docs.select("doc_id", F.posexplode(wins).alias("s", "win_key"))


def exact_substring_dedup(
    docs: DataFrame, text_col: str = "text", w: int = EXSUB_W
) -> DataFrame:
    """Cross-document exact-substring dedup (ExactSubstr, Lee et al.
    2022), keep-first-occurrence semantics: any ``w``-token run that
    also occurs elsewhere in the corpus survives only at its globally
    first occurrence (min (doc_id, s)); every other occurrence is cut
    out of its document TOKEN-WISE and the remainder reassembled.
    Positional removal is what distinguishes this from ``line_dedup``
    (fixed segmentation) and ``dup_ngram_stats`` (stats only): shared
    boilerplate is excised mid-document while unique text around it
    survives.  Reference scope: the reference extracts per-document
    only; corpus-level dedup is the training-data layer this engine
    adds.

    Returns (doc_id, n_tokens, n_removed, kept_text).

    Scale shape (100 TB): the paper's suffix array is a single-machine
    structure; the distributed equivalent is this window-hash shuffle.
    Window stats aggregate count + min(struct) IN ONE hash-aggregate
    pass (both partial-aggregable — a boilerplate window repeated 10^9
    times collapses map-side), and only duplicated window keys
    (``cnt > 1``) survive the aggregate into the join, so the join's
    build side is the duplicated subset, not the corpus.  Per-doc
    removal starts ride one doc_id-keyed shuffle; the final coverage
    test is a per-row array fold over that doc's own dup starts — no
    token-level join, no window functions over the corpus.

    The window table feeds both the stats aggregate and the join probe,
    and its md5-per-window explode is the query's dominant kernel — so
    it is persisted rather than recomputed per consumer (~2× the md5
    work otherwise; at 100 TB this is the intermediate you'd
    materialize between the count and excise stages, exactly the
    two-pass structure of Lee et al.'s suffix-array dedup)."""
    wins = doc_windows(docs, text_col, w).persist()
    stats = (
        wins.groupBy("win_key")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("doc_id", "s")).alias("first"),
        )
        .where(F.col("cnt") > 1)
    )
    dup_starts = (
        wins.join(stats, "win_key")
        .where(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("s") == F.col("first.s"))
            )
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("s")).alias("dup_starts"))
        # eagerly materialize the SMALL side (one row per doc that
        # contains a duplicate) so the corpus-scale window table can be
        # unpersisted before this function returns — a session running
        # many queries (the registry sweep) must not keep win-table
        # cache blocks pinned for its whole lifetime (review r4).
        # localCheckpoint blocks are ContextCleaner-managed, unlike
        # CacheManager entries, which live until explicit unpersist.
        .localCheckpoint(eager=True)
    )
    wins.unpersist()
    joined = docs.join(dup_starts, "doc_id", "left")
    row = X.let(
        X.ws_tokens(F.col(text_col)),
        lambda toks: X.let(
            F.coalesce(F.col("dup_starts"), F.array().cast("array<int>")),
            lambda ss: X.let(
                F.filter(
                    toks,
                    lambda t, p: ~F.exists(
                        ss, lambda s: (s <= p) & (p < s + w)
                    ),
                ),
                lambda kept: F.struct(
                    F.size(toks).alias("n_tokens"),
                    (F.size(toks) - F.size(kept)).alias("n_removed"),
                    F.array_join(kept, " ").alias("kept_text"),
                ),
            ),
        ),
    )
    return joined.select("doc_id", row.alias("r")).select(
        "doc_id", "r.n_tokens", "r.n_removed", "r.kept_text"
    )


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022): duplicated ``EXSUB_W``-token
    runs are excised from every occurrence but the global first, and
    documents reassembled token-wise.  See ``exact_substring_dedup``
    above for the one-aggregate-pass + dup-only-join scale shape."""
    return exact_substring_dedup(load(spark, sf_dir, "documents"))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def minhash_verified_pairs(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.2
) -> DataFrame:
    """The full near-dup pipeline: LSH candidate pairs → exact word-set
    Jaccard verification → keep pairs ≥ threshold.

    The candidate step bounds the quadratic work (LSH buckets), the
    verify step joins each candidate pair against the two word sets —
    this candidates-then-verify shape is the one that survives 100 TB.
    """
    pairs = D.minhash_lsh_pairs(docs, text_col)
    words = docs.select(
        F.col("doc_id"),
        F.array_distinct(
            X.ws_tokens(D.normalized_text(F.col(text_col)))
        ).alias("wordset"),
    )
    wa = words.alias("wa")
    wb = words.alias("wb")
    return (
        pairs.join(wa, pairs.doc_a == F.col("wa.doc_id"))
        .join(wb, pairs.doc_b == F.col("wb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("wa.wordset", "wb.wordset")).cast(
                    "double"
                )
                / F.size(F.array_union("wa.wordset", "wb.wordset")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def q_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_verified_pairs(load(spark, sf_dir, "documents"))


def q_wave_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl delta: classify every document across two crawl waves
    as added / removed / changed / unchanged — the production question
    a continuous crawl answers before spending extraction CPU
    (reference crawler.py's storage queue reacts to per-URL changes;
    this is the corpus-level fold of the same signal).

    Waves are derived deterministically from the documents table: the
    old wave is every doc except ``doc_id % 7 == 6`` (dropped pages →
    'removed'); the new wave is every doc except ``doc_id % 5 == 4``
    (fresh pages → 'added'), with every third doc's text refreshed
    ('changed').

    Scale shape: each side hashes its text MAP-SIDE, so the single
    shuffle carries (doc_id, 32-byte hash) pairs — never document
    bodies — and the union + groupBy fold is fully partial-aggregable
    (one exchange, no join, no skew machinery).  A full-outer join
    would move the same rows but lose the map-side combine.  The
    oracle is an independent spelling (FULL OUTER JOIN)."""
    docs = load(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 6).select(
        "doc_id",
        F.md5(F.col("text")).alias("h"),
        F.lit(False).alias("is_new"),
    )
    new = docs.where(F.col("doc_id") % 5 != 4).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.col("text"), F.lit(" refreshed")),
            ).otherwise(F.col("text"))
        ).alias("h"),
        F.lit(True).alias("is_new"),
    )
    folded = (
        old.unionByName(new)
        .groupBy("doc_id")
        .agg(
            F.max(F.when(~F.col("is_new"), F.col("h"))).alias("old_hash"),
            F.max(F.when(F.col("is_new"), F.col("h"))).alias("new_hash"),
        )
    )
    return folded.select(
        "doc_id",
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") == F.col("new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_hash",
        "new_hash",
    )


SNAPSHOT_AS_OF = 2  # the wave the time-travel read pins


def _doc_version_log(docs: DataFrame) -> DataFrame:
    """Deterministic append-only version log derived from the documents
    table (the synthesis ``q_snapshot_as_of``'s docstring spells out):
    (doc_id, wave, op, h) rows materialized MAP-SIDE as an array of
    conditional structs + explode over one scan — never a join against
    a wave table.  Shared by the time-travel read and the vacuum
    planner; the per-wave membership rules are disjoint, so
    (doc_id, wave) is unique."""
    d = F.col("doc_id")

    def v(wave: int, op: str, body) -> F.Column:
        return F.struct(
            F.lit(wave).alias("wave"),
            F.lit(op).alias("op"),
            F.md5(body).alias("h"),
        )

    suffixed = lambda s: F.concat(F.col("text"), F.lit(s))  # noqa: E731
    return docs.select(
        "doc_id",
        F.explode(
            F.array_compact(
                F.array(
                    F.when(d % 7 != 6, v(0, "upsert", F.col("text"))),
                    F.when(
                        (d % 3 == 0) & (d % 11 != 3),
                        v(1, "upsert", suffixed(" w1")),
                    ),
                    F.when(d % 11 == 3, v(1, "delete", F.lit(""))),
                    F.when(
                        (d % 7 == 6) & ~((d % 11 == 3) & (d % 2 == 0)),
                        v(2, "upsert", suffixed(" w2")),
                    ),
                    F.when(
                        (d % 11 == 3) & (d % 2 == 0),
                        v(2, "upsert", suffixed(" back")),
                    ),
                    F.when(d % 13 == 2, v(3, "upsert", suffixed(" w3"))),
                )
            )
        ).alias("v"),
    ).select("doc_id", "v.*")


def q_snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot / time-travel read over a wave-committed corpus: the
    latest version of every document among waves ``<= SNAPSHOT_AS_OF``,
    with delete tombstones applied — Iceberg's ``VERSION AS OF``
    (and Delta/Hudi merge-on-read) semantics expressed as pure
    DataFrame ops over an append-only version log.  This is how a
    training run pins a reproducible corpus state while later crawl
    waves keep appending (pairs with ``wave_diff``, which classifies
    the delta between two such states).

    The version log is derived deterministically from the documents
    table — four waves of upserts, deletes, late adds, and undeletes:

    - wave 0: initial crawl, every doc except ``doc_id % 7 == 6``;
    - wave 1: refresh ``% 3 == 0`` (body + ' w1'), tombstone
      ``% 11 == 3``;
    - wave 2: late-add the ``% 7 == 6`` docs (' w2'), undelete the
      even tombstoned docs (' back');
    - wave 3: refresh ``% 13 == 2`` (' w3') — beyond the pin, so the
      snapshot must NOT see it.

    Per-wave membership rules are disjoint, so (doc_id, wave) is
    unique and ``max_by`` has no ties.

    Scale shape: ONE scan of the corpus; the version log materializes
    map-side as an array of conditional structs + explode (no join
    against a wave table, no repeated scans); the time-travel filter
    ``wave <= W`` runs before the fold, so later waves never enter the
    shuffle; the fold itself is a single partial-aggregable
    ``groupBy(doc_id).agg(max_by)`` — latest-writer-wins resolved in
    the combiner, bodies never shuffled (the 32-byte content hash
    stands in).  At 10^12 docs this is exactly one exchange on the
    bucket key the table is already laid out on.  The oracle is an
    independent spelling (UNION ALL log + ROW_NUMBER window)."""
    log = _doc_version_log(load(spark, sf_dir, "documents"))
    latest = (
        log.where(F.col("wave") <= F.lit(SNAPSHOT_AS_OF))
        .groupBy("doc_id")
        .agg(
            F.max("wave").cast("int").alias("version_wave"),
            F.max_by(F.struct("op", "h"), F.col("wave")).alias("last"),
        )
    )
    return latest.where(F.col("last.op") == "upsert").select(
        "doc_id", "version_wave", F.col("last.h").alias("h")
    )


def q_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-log vacuum planner — the table-maintenance half of the
    snapshot story (Iceberg's rewrite_data_files / Delta VACUUM
    decision): per storage bucket, how many log entries are live under
    latest-writer-wins vs dead (superseded versions + tombstones and
    everything they hide), and whether the dead fraction justifies
    rewriting the bucket.  A 10^12-doc corpus cannot afford to rewrite
    everything each wave; this plan bounds maintenance IO to the
    buckets that actually accumulated garbage.

    Buckets are the hash's first hex byte over md5(doc_id) — 256
    uniform buckets both engines can compute identically (the
    ``training_order`` idiom standing in for the table's
    pmod(xxhash64) layout, which DuckDB cannot evaluate).

    The rewrite rule is exact integer arithmetic (4·dead ≥ versions,
    i.e. dead fraction ≥ 25%) so the decision is float-free and
    reproducible across engines.

    Scale shape: the same single-scan map-side version log as
    ``snapshot_as_of``; fold 1 is the partial-aggregable per-doc
    latest-writer fold (count + max_by riding the SAME shuffle — one
    exchange on doc_id); fold 2 reduces doc rows to 256 bucket rows
    (metadata-scale exchange).  Nothing rescans the table per bucket
    and no version bodies move — the log carries 32-byte hashes."""
    log = _doc_version_log(load(spark, sf_dir, "documents"))
    per_doc = (
        log.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.max_by(F.col("op"), F.col("wave")).alias("last_op"),
        )
        .select(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias(
                "bucket"
            ),
            "n_versions",
            (F.col("last_op") == "upsert").cast("int").alias("live"),
        )
    )
    plan = per_doc.groupBy("bucket").agg(
        F.sum("n_versions").cast("bigint").alias("n_versions"),
        F.sum("live").cast("bigint").alias("n_live"),
        (F.sum("n_versions") - F.sum("live")).cast("bigint").alias("n_dead"),
    )
    return plan.select(
        "bucket",
        "n_versions",
        "n_live",
        "n_dead",
        (F.col("n_dead") * 4 >= F.col("n_versions")).alias("rewrite"),
    )


RECRAWL_WAVES = 4           # the version log spans waves 0..3
RECRAWL_HOT_PPM = 600_000   # smoothed change rate ≥ 60% → re-crawl every wave
RECRAWL_WARM_PPM = 350_000  # ≥ 35% → re-crawl every few waves


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate-driven re-crawl scheduling — the consumer of the
    wave history ``wave_diff`` classifies and ``snapshot_as_of`` pins.
    A 10^12-doc crawl cannot re-fetch everything per wave; freshness
    literature (Cho & Garcia-Molina, VLDB 2000) schedules revisits by
    each page's estimated change rate.  The reference re-discovers
    from scratch per run (discovery.py's BFS has no revisit policy);
    this operator derives the policy from the corpus's own version
    log.

    Per document over the 4-wave log (``_doc_version_log``):
    ``changes`` = versions after first sighting (every logged entry —
    refresh, tombstone, undelete — is an observed change);
    ``opportunities`` = waves after first sighting in the observed
    window; the estimated change rate is Laplace-smoothed in exact
    integer micro-units, ``rate_ppm = (10^6 · (changes+1)) div
    (opportunities+2)`` — the add-one/add-two prior keeps one-wave-old
    pages from saturating the estimate either way.  Tombstoned docs
    (latest op = delete) are 'retired' (never re-fetched); the rest
    tier hot / warm / cold by fixed rate thresholds.

    Scale shape: the same ONE-scan map-side version log as
    ``snapshot_as_of``; the whole schedule is a single
    partial-aggregable ``groupBy(doc_id)`` (count + min + max_by ride
    one exchange on the table's own bucket key); rate and tier are
    constant integer arithmetic on the folded row — no window, no
    join, no second pass.  Integer division makes the rate
    bit-reproducible across engines."""
    log = _doc_version_log(load(spark, sf_dir, "documents"))
    per_doc = log.groupBy("doc_id").agg(
        (F.count(F.lit(1)) - 1).alias("changes"),
        F.min("wave").alias("first_wave"),
        F.max_by(F.col("op"), F.col("wave")).alias("last_op"),
    )
    opportunities = F.lit(RECRAWL_WAVES - 1) - F.col("first_wave")
    rate = F.expr(
        f"(1000000 * (changes + 1)) div (({RECRAWL_WAVES - 1} "
        "- first_wave) + 2)"
    )
    return per_doc.select(
        "doc_id",
        F.col("changes").cast("bigint").alias("changes"),
        opportunities.cast("bigint").alias("opportunities"),
        rate.cast("bigint").alias("rate_ppm"),
        F.when(F.col("last_op") == "delete", F.lit("retired"))
        .when(rate >= RECRAWL_HOT_PPM, F.lit("hot"))
        .when(rate >= RECRAWL_WARM_PPM, F.lit("warm"))
        .otherwise(F.lit("cold"))
        .alias("tier"),
    )


WAVE_MOD = 5  # doc_id % WAVE_MOD == 0 plays the "new ingest wave"


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup of a new ingest wave against the
    stored corpus — the shape that replaces whole-corpus
    ``minhash_pairs`` at 100 TB, where re-signing everything per wave
    is the bottleneck.  Every 5th doc plays the wave; the rest is the
    stored corpus whose write-time-capped band index
    (``capped_band_index`` — what ``write_band_index`` persists
    shard-partitioned) is probed by the wave's own bands: sign ONLY
    the wave, equi-join (band, band_hash), verify candidates with
    exact word-set Jaccard against the corpus text (id-lookup join —
    co-located when both tables are bucketed on doc_id).  Output:
    (new_doc, dup_of, jaccard ≥ 0.2).

    ``test_incremental_dedup_probes_written_index`` drives the same
    probe through an index actually persisted + re-read from disk."""
    docs = load(spark, sf_dir, "documents")
    is_wave = F.col("doc_id") % WAVE_MOD == 0
    corpus, wave = docs.where(~is_wave), docs.where(is_wave)
    idx = D.capped_band_index(corpus)
    cand = D.incremental_minhash_pairs(wave, idx)
    words = docs.select(
        "doc_id",
        F.array_distinct(
            X.ws_tokens(D.normalized_text(F.col("text")))
        ).alias("wordset"),
    )
    wn = words.alias("wn")
    wo = words.alias("wo")
    return (
        cand.join(wn, cand.new_doc == F.col("wn.doc_id"))
        .join(wo, cand.dup_of == F.col("wo.doc_id"))
        .select(
            "new_doc",
            "dup_of",
            F.round(
                F.size(
                    F.array_intersect("wn.wordset", "wo.wordset")
                ).cast("double")
                / F.size(F.array_union("wn.wordset", "wo.wordset")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.2)
    )


def q_band_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-index maintenance compaction (``dedup.compact_band_index``):
    the persisted MinHash index grows by per-wave appends, each wave
    capped within itself; re-capping to the ``bucket_cap`` smallest
    doc_ids per bucket is EXACT — the compacted index equals, row for
    row, a from-scratch ``capped_band_index`` over the union corpus
    (any global cap-smallest doc is its own wave's cap-smallest).
    This query builds the grown state (corpus index ∪ wave index, the
    ``run_pipeline_wave`` append shape), compacts it, and the oracle
    is the from-scratch capped index over ALL documents — agreement
    proves the equivalence, not just plausibility."""
    docs = load(spark, sf_dir, "documents")
    is_wave = F.col("doc_id") % WAVE_MOD == 0
    grown = D.capped_band_index(docs.where(~is_wave)).unionByName(
        D.capped_band_index(docs.where(is_wave))
    )
    return D.compact_band_index(grown)


def q_ivf_append_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest — the embedding-side twin of
    ``incremental_dedup``/``band_index_compact``: a new wave of
    vectors (every 5th vec_id) is assigned cells against the STORED
    corpus's FROZEN codebook (its ``N_CENTROIDS`` smallest vec_ids),
    landing directly in the cell-partitioned layout
    (``write_cell_partitioned``'s partition column) with no
    re-clustering and no stored-vector re-read.  ``assign_cells`` is a
    pure function of (vector, codebook) — integer L2, ties → smallest
    cid — so the appended table probes identically to a from-scratch
    build under the same codebook; the oracle re-derives every wave
    assignment in SQL.  (Centroid DRIFT handling is a policy above
    this operator: retrain + rewrite via ``train_ivf_codebook`` +
    ``write_cell_partitioned``, the ``compact_state`` pattern.)"""
    emb = load(spark, sf_dir, "embeddings")
    is_wave = F.col("vec_id") % WAVE_MOD == 0
    stored, wave = emb.where(~is_wave), emb.where(is_wave)
    codebook = (
        stored.orderBy("vec_id")
        .limit(S.N_CENTROIDS)
        .select(
            F.col("vec_id").alias("cid"),
            S.quantized(F.col("embedding")).alias("cvec"),
        )
    )
    return S.assign_cells(wave, codebook=codebook).select(
        "vec_id", "cell"
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_neardup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.3
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_table(load(spark, sf_dir, "documents"))




def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.benchmark_overlap): corpus
    docs sharing any word 8-gram with the benchmark stand-in
    (doc_id < 10).  The synthetic corpus plants near-duplicates across
    the boundary, so the result is non-trivial."""
    docs = load(spark, sf_dir, "documents")
    return D.benchmark_overlap(
        docs.where(F.col("doc_id") >= DECONTAM_BENCH_IDS),
        docs.where(F.col("doc_id") < DECONTAM_BENCH_IDS),
        n=DECONTAM_N,
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 2) via pigeonhole bit-band
    blocking — exact recall by construction, verified with
    bit_count(xor); see dedup.simhash_hamming_pairs."""
    return D.simhash_hamming_pairs(load(spark, sf_dir, "documents"))


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", stride: int = 1
) -> DataFrame:
    """Word-set Jaccard similarity between deterministically paired
    documents (doc_id, doc_id + stride) — the verification primitive the
    LSH candidates feed at scale (a co-partitioned equi-join, no
    cross product)."""
    words = docs.select(
        F.col("doc_id"),
        F.array_distinct(
            X.ws_tokens(D.normalized_text(F.col(text_col)))
        ).alias("wordset"),
    )
    a = words.alias("a")
    b = words.alias("b")
    return (
        a.join(b, F.col("a.doc_id") + stride == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("a.wordset", "b.wordset")).cast("double")
                / F.size(F.array_union("a.wordset", "b.wordset")),
                6,
            ).alias("jaccard"),
        )
    )


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization — the dedup COMPLETION step
    (RefinedWeb/SlimPajama keep one document per duplicate cluster;
    candidate pairs alone don't tell you which row to keep): connected
    components over the MinHash-LSH pair graph by iterative min-label
    propagation, converged to fixpoint, then a per-cluster canonical
    (min doc_id) and cluster size for EVERY document (singletons size
    1).

    Iterative hygiene (crawl-frontier/pagerank pattern): the pair
    edges are computed ONCE and persisted; each round is one
    join + partial-agg min; ``localCheckpoint`` truncates lineage; the
    loop exits when a round changes no label (an exact fixpoint —
    near-dup components have tiny diameters, so rounds ≈ 2-3).  The
    oracle computes true min-reachable labels with a recursive CTE, so
    a non-converged or mis-propagated result cannot hash-match."""
    docs = load(spark, sf_dir, "documents")
    labels = D.connected_components(D.minhash_lsh_pairs(docs))
    canon = docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("canonical_id"),
    )
    sizes = canon.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return canon.join(sizes, "canonical_id").select(
        "doc_id", "canonical_id", "cluster_size"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    embedding-cosine near-duplicate pairs → connected components →
    one canonical representative per semantic cluster, with a ``keep``
    flag for every vector (the training-set filter is
    ``WHERE keep``).

    Pure composition of two already-verified primitives:
    ``similarity.embedding_neardup_pairs`` (LSH-blocked, bucket-capped
    — never a cross product) feeds ``dedup.connected_components``
    (min-label propagation to an exact fixpoint, persisted edges,
    per-round ``localCheckpoint``).  The canonical rule (min vec_id
    reachable) matches SemDeDup's keep-one-per-cluster semantics with
    a deterministic representative.  The oracle recomputes true
    min-reachable labels with a recursive CTE over the same pair SQL,
    so convergence bugs cannot hash-match."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = S.embedding_neardup_pairs(emb, threshold=0.3).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels = D.connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"),
        F.col("label").alias("cc_label"),
    )
    canon = emb.select("vec_id").join(labels, "vec_id", "left").select(
        "vec_id",
        F.coalesce("cc_label", F.col("vec_id")).alias("canonical_id"),
    )
    sizes = canon.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return canon.join(sizes, "canonical_id").select(
        "vec_id",
        "canonical_id",
        "cluster_size",
        (F.col("vec_id") == F.col("canonical_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------


def _crawl_frontier(
    spark: SparkSession, sf_dir: str, max_depth: int
) -> DataFrame:
    """D6 BFS crawl frontier (crawler.py:754-834): iterative per-depth
    expansion with a broadcast frontier and a left-anti visited join —
    the distributed form of the reference's queue-based crawler.  Link
    graph is synthesized deterministically from the documents table
    (doc i → (2i+1) mod N, (3i+7) mod N).

    Iterative-plan scale hygiene (round-1 weak spot): the two edges per
    document come from ONE scan (explode, not a union of two scans);
    the corpus count runs once and parameterizes every depth; and each
    depth's new frontier is ``localCheckpoint``-ed so the lineage is
    truncated — without it the union plan tree and the recomputed
    frontier chain grow super-linearly with depth (each iteration
    re-derives all prior ones), which is fatal at real crawl depths.
    """
    docs = load(spark, sf_dir, "documents")
    n = docs.count()  # one action; parameterizes the modular edge graph
    src = F.col("doc_id")
    # persist the edge list for the iteration — every depth probes it,
    # and without caching each depth re-derives it from the source scan
    # (at real scale the analog is edge storage bucketed on src; here
    # MEMORY_AND_DISK holds it for the loop and is released after)
    edges = docs.select(
        src.alias("src"),
        F.explode(F.array((src * 2 + 1) % n, (src * 3 + 7) % n)).alias(
            "dst"
        ),
    ).persist()
    try:
        visited = spark.createDataFrame(
            [(0, 0)], "doc_id long, depth int"
        )
        frontier = visited.select("doc_id")
        for depth in range(1, max_depth + 1):
            nxt = (
                edges.join(
                    F.broadcast(frontier), edges.src == frontier.doc_id
                )
                .select(F.col("dst").alias("doc_id"))
                .distinct()
                .join(visited, "doc_id", "left_anti")
                .withColumn("depth", F.lit(depth))
            ).localCheckpoint(eager=True)
            visited = visited.unionByName(nxt)
            frontier = nxt.select("doc_id")
    finally:
        # the returned frame is a union of checkpointed frames — it no
        # longer references edges, so the cache can be dropped now
        edges.unpersist()
    return visited


def q_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured HTML table extraction (operators/tables.py): every
    document renders to a page with a real thead/tbody data grid (the
    document's tokens, 4 per row; every 4th doc's header th carries
    colspan="2") plus a fixed auxiliary table — the extractor walks
    the SAME DOM the flagship pipeline parses and must reproduce
    table order, row order, colspan-advanced column indexes, and the
    th/td header flag, cell-exactly.  One zero-shuffle mapInArrow
    stage; the oracle is the analytic cell-set prediction."""
    from .operators.tables import documents_as_table_html, extract_tables

    docs = load(spark, sf_dir, "documents")
    return extract_tables(documents_as_table_html(docs))


REDIRECT_SPAN = 16  # chains u -> u-1 ... down to multiples of 16


def q_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain canonicalization by POINTER DOUBLING — resolve
    every URL to its final redirect target plus hop count.  The
    reference follows redirects one fetch at a time (httpx inside
    crawler.py's fetch loop); at corpus scale the redirect graph is a
    stored edge table and resolution is a join problem.  URL dedup /
    canonical-URL assignment needs every chain collapsed before ids
    are compared.

    The redirect graph is synthesized deterministically from the
    documents table: ``u`` redirects to ``u-1`` unless ``u`` is a
    multiple of ``REDIRECT_SPAN`` (terminal) — chains up to 15 hops,
    acyclic by construction.

    Scale shape: the naive per-hop walk needs max-chain-length
    shuffles of the full table (the BFS-frontier spelling); pointer
    doubling composes the successor function with itself —
    ``f = f∘f`` per round — so ``ceil(log2(L))`` self-equi-joins
    resolve chains of length L (4 rounds for 15 hops, 40 rounds would
    cover a trillion-hop chain).  Every round shuffles only
    (src, dst, hops) id triples, never bodies; terminals self-loop
    with hops 0, so composition is idempotent at the fixpoint and the
    hop sum stays exact.  Per-round ``localCheckpoint`` keeps the
    iterative lineage flat (the crawl_frontier lesson).  The oracle is
    an INDEPENDENT algorithm: a DuckDB recursive CTE walking chains
    one hop at a time."""
    docs = load(spark, sf_dir, "documents")
    u = F.col("doc_id")
    is_term = u % REDIRECT_SPAN == 0
    f = docs.select(
        u.alias("src"),
        F.when(is_term, u).otherwise(u - 1).alias("dst"),
        F.when(is_term, F.lit(0)).otherwise(F.lit(1)).alias("hops"),
    )
    rounds = max(1, (REDIRECT_SPAN - 1).bit_length())  # ceil(log2(L+1))
    for _ in range(rounds):
        g = f.select(
            F.col("src").alias("g_src"),
            F.col("dst").alias("g_dst"),
            F.col("hops").alias("g_hops"),
        )
        f = (
            f.join(g, f.dst == g.g_src)
            .select(
                "src",
                F.col("g_dst").alias("dst"),
                (F.col("hops") + F.col("g_hops")).alias("hops"),
            )
            .localCheckpoint()
        )
    return f.select(
        F.col("src").alias("doc_id"),
        F.col("dst").alias("canonical_id"),
        F.col("hops").cast("int").alias("hops"),
    )


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _crawl_frontier(spark, sf_dir, max_depth=3)


def q_crawl_frontier_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-8 BFS — evidence that per-iteration checkpointing keeps
    cost linear in depth (see _crawl_frontier)."""
    return _crawl_frontier(spark, sf_dir, max_depth=8)


PAGERANK_ITERS = 3
PAGERANK_SCALE = 1_000_000_000_000  # total rank mass, fixed-point


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank as a corpus-quality signal (public
    CommonCrawl-style pipelines weight documents by link centrality;
    the reference crawls the graph — crawler.py:754-834 — but never
    scores it).  Same synthetic edge graph as the crawl frontier
    (doc i → (2i+1) mod N, (3i+7) mod N; out-degree exactly 2, so no
    rank mass leaks from dangling OUT-degree — but IN-degree 0 is
    possible for some N, e.g. N ≡ 0 mod 6 leaves nodes with no
    inbound edge, so each iteration anchors on the full doc set and
    no-inbound nodes keep the teleport base instead of vanishing).

    Arithmetic is FIXED-POINT INTEGER so the iteration is exactly
    reproducible regardless of partitioning/summation order (the same
    reason the decimal casts exist in pricing_summary): rank mass
    starts at SCALE/N per node, each iteration sends r DIV 2 along
    both out-edges and applies damping as ``base + (85·Σ) DIV 100``.
    Truncation loses ≤1 unit per op — irrelevant for ranking, and
    bit-identical in Spark and the DuckDB chained-CTE oracle.

    Iterative-plan hygiene (the crawl-frontier lessons): the edge list
    is built once and persisted (bucketed edge storage at scale), each
    iteration is join-on-src + partial-agg-on-dst (PageRank's minimal
    two-shuffle step), and per-iteration ``localCheckpoint`` truncates
    the lineage so plan size stays linear in iterations."""
    docs = load(spark, sf_dir, "documents", floor=False)
    n = docs.count()
    src = F.col("doc_id")
    edges = docs.select(
        src.alias("src"),
        F.explode(F.array((src * 2 + 1) % n, (src * 3 + 7) % n)).alias(
            "dst"
        ),
    ).persist()
    base = PAGERANK_SCALE * 15 // (100 * n)
    try:
        ranks = docs.select(
            "doc_id", F.lit(PAGERANK_SCALE // n).alias("pagerank")
        )
        for _ in range(PAGERANK_ITERS):
            contribs = edges.join(ranks, edges.src == ranks.doc_id).select(
                F.col("dst").alias("doc_id"),
                F.expr("pagerank DIV 2").alias("c"),
            )
            incoming = contribs.groupBy("doc_id").agg(
                F.sum("c").alias("s")
            )
            # anchor on ALL docs: a node with no inbound edge keeps
            # the teleport base rather than dropping out of the frame
            ranks = (
                docs.select("doc_id")
                .join(incoming, "doc_id", "left")
                .select(
                    "doc_id",
                    (
                        F.lit(base)
                        + F.expr("(85 * coalesce(s, 0)) DIV 100")
                    ).alias("pagerank"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        edges.unpersist()
    return ranks


HITS_ITERS = 2
# Total score mass 1e9: small enough that every intermediate product
# (per-node raw sum ≤ indeg·max_score ≤ ~5e9, times the scale in the
# normalization ≤ ~5e18) stays inside int64, large enough that the
# integer scores keep ~6 significant digits at sf0.1's 600k nodes.
HITS_SCALE = 1_000_000_000


def q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the same synthetic
    link graph as the PageRank / frontier family — the second classic
    link-centrality signal (good-hub pages are exactly the seed lists
    a discovery crawler wants; the reference crawls the graph but
    never scores it, crawler.py:754-834).

    Arithmetic is FIXED-POINT INTEGER like ``q_link_pagerank``: each
    half-iteration sums the opposite score over edges, then
    renormalizes to total mass ``HITS_SCALE`` by one integer
    ``raw * SCALE DIV total`` (the scalar total rides a broadcast
    one-row aggregate — HITS's L1 normalization, float-free), so the
    result is bit-identical under any partitioning and replays in a
    chained-CTE DuckDB oracle with scalar subqueries.

    Iterative-plan hygiene (the PageRank lessons): edges built once
    and persisted; each half-step is join-on-one-side + partial agg on
    the other (the minimal two-shuffle step); per-half-iteration
    ``localCheckpoint`` keeps plan size linear in iterations; nodes
    with no in/out edges anchor on the full doc set with score 0
    rather than dropping out of the frame."""
    docs = load(spark, sf_dir, "documents", floor=False)
    n = docs.count()
    src = F.col("doc_id")
    edges = docs.select(
        src.alias("src"),
        F.explode(F.array((src * 2 + 1) % n, (src * 3 + 7) % n)).alias(
            "dst"
        ),
    ).persist()

    def _normalize(raw: DataFrame, key: str, col: str) -> DataFrame:
        tot = raw.agg(F.sum("raw").alias("t"))
        return (
            docs.select("doc_id")
            .join(raw.withColumnRenamed(key, "doc_id"), "doc_id", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "doc_id",
                F.expr(
                    f"coalesce(raw, 0) * {HITS_SCALE} DIV t"
                ).alias(col),
            )
            .localCheckpoint(eager=True)
        )

    hubs = docs.select(
        "doc_id", F.lit(HITS_SCALE // n).alias("hub")
    )
    auth = None
    try:
        for _ in range(HITS_ITERS):
            a_raw = (
                edges.join(hubs, edges.src == hubs.doc_id)
                .groupBy("dst")
                .agg(F.sum("hub").alias("raw"))
            )
            auth = _normalize(a_raw, "dst", "auth")
            h_raw = (
                edges.join(auth, edges.dst == auth.doc_id)
                .groupBy("src")
                .agg(F.sum("auth").alias("raw"))
            )
            hubs = _normalize(h_raw, "src", "hub")
    finally:
        edges.unpersist()
    return auth.join(hubs, "doc_id").select(
        "doc_id", "hub", F.col("auth").alias("authority")
    )


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text aggregation — the classic web-corpus job
    (anchor corpora feed ranking features, title fallbacks, and
    DSIR-style seed sets; the reference extracts links —
    crawler.py:635-670 — but never aggregates what they SAY).  Rides
    the same synthetic edge graph as the crawl frontier / PageRank
    (doc i → (2i+1) mod N, (3i+7) mod N); each edge's anchor text is
    a token drawn from the SOURCE document at a target-dependent
    position (so targets accumulate anchor distributions with real
    collisions), falling back to 'link' when the source is too short.

    Output per target URL: inlink count, distinct-anchor count, and
    the top anchor (most frequent, ties → lexicographically smallest).

    Scale shape: two-level aggregation — groupBy(dst, anchor) partial
    count (map-side combine eats the duplicate mass; at web scale this
    is the shuffle that matters and it moves (target, anchor) pairs,
    not edges), then groupBy(dst) where the top anchor is
    ``min(struct(-cnt, anchor))`` — a plain partial-aggregable min,
    no window, no second sort.  distinct_anchors is a COUNT over the
    first-level groups, so no count-distinct Expand appears."""
    docs = load(spark, sf_dir, "documents", floor=False)
    n = docs.count()
    src = F.col("doc_id")
    toks = X.ws_tokens(F.lower(F.col("text")))
    edges = docs.select(
        toks.alias("toks"),
        F.explode(F.array((src * 2 + 1) % n, (src * 3 + 7) % n)).alias(
            "dst"
        ),
    ).select(
        "dst",
        F.coalesce(
            F.element_at(
                "toks", (F.lit(1) + F.pmod(F.col("dst"), F.lit(7))).cast("int")
            ),
            F.lit("link"),
        ).alias("anchor"),
    )
    per_anchor = edges.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    agg = per_anchor.groupBy("dst").agg(
        F.sum("cnt").alias("n_inlinks"),
        F.count(F.lit(1)).alias("n_distinct_anchors"),
        F.min(
            F.struct((-F.col("cnt")).alias("nc"), F.col("anchor").alias("a"))
        )["a"].alias("top_anchor"),
    )
    return agg.select(
        F.concat(
            F.lit("https://synth.example/docs/"), F.col("dst").cast("string")
        ).alias("url"),
        "n_inlinks",
        "n_distinct_anchors",
        "top_anchor",
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ivf_ann_topk(load(spark, sf_dir, "embeddings"), query_id=0, k=10)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(load(spark, sf_dir, "embeddings"), query_id=0, k=10)


EVAL_N_QUERIES = 5
EVAL_K = 10
# Integer nDCG discount table floor(1e6 / log2(rank+1)) and its prefix
# sums (for ideal DCG), computed ONCE driver-side and interpolated as
# literals into BOTH engines — no libm in the comparison at all.
_EVAL_D = [
    int(1_000_000 / __import__("math").log2(r + 1))
    for r in range(1, EVAL_K + 1)
]
_EVAL_D_PREFIX = [sum(_EVAL_D[: i + 1]) for i in range(EVAL_K)]


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness: score EVAL_N_QUERIES query
    vectors against the corpus, take each query's exact cosine top-k,
    and report hits / precision@k / recall@k / nDCG@k per query using
    the embedding ``label`` as the relevance judgment — the eval loop
    every ANN/retrieval stack in this registry feeds (and the metric
    the recall@10 tests of the LSH/IVF/PQ family report informally).

    All metrics are exact integers: counts, ppm ratios by integer DIV,
    and nDCG from a driver-computed literal discount table (see
    _EVAL_D) so no log/float-sum enters either engine.

    Scale shape: the corpus is scanned once; the query side (5 rows)
    is broadcast, scoring is map-side with PRE-COMPUTED squared norms
    (one fold per pair, not three), and the per-query top-k compiles
    to WindowGroupLimit — every task forwards at most k rows per
    query before the (queries × k)-row sort, so the plan is flat in
    corpus size.  Per-label relevant totals are one partial-aggregable
    metadata aggregate joined back by broadcast."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") < EVAL_N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            S.quantized(F.col("embedding")).alias("qv"),
            F.col("label").alias("qlabel"),
        )
        .withColumn("qn2", S.sq_norm(F.col("qv")))
    )
    corpus = emb.where(F.col("vec_id") >= EVAL_N_QUERIES).select(
        "vec_id",
        "label",
        S.quantized(F.col("embedding")).alias("v"),
    ).withColumn("n2", S.sq_norm(F.col("v")))
    scored = corpus.join(F.broadcast(q)).select(
        "query_id",
        "qlabel",
        "vec_id",
        "label",
        S.cosine_sim_prenorm(
            F.col("v"), F.col("qv"), F.col("n2"), F.col("qn2")
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    top = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= EVAL_K
    )
    d_arr = F.array(*[F.lit(d).cast("long") for d in _EVAL_D])
    rel = F.col("label") == F.col("qlabel")
    per_q = top.groupBy("query_id", "qlabel").agg(
        F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("hits"),
        F.sum(
            F.when(rel, F.element_at(d_arr, F.col("rank"))).otherwise(0)
        )
        .cast("long")
        .alias("dcg_micro"),
    )
    rel_tot = corpus.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    prefix = F.array(*[F.lit(p).cast("long") for p in _EVAL_D_PREFIX])
    return (
        per_q.join(
            F.broadcast(rel_tot), per_q.qlabel == rel_tot.label
        )
        .withColumn(
            "idcg_micro",
            F.element_at(
                prefix,
                F.least(F.col("n_rel"), F.lit(EVAL_K)).cast("int"),
            ),
        )
        .select(
            "query_id",
            F.col("n_rel").cast("long").alias("n_rel"),
            "hits",
            F.expr(f"hits * 1000000 DIV {EVAL_K}").alias(
                "precision_ppm"
            ),
            F.expr("hits * 1000000 DIV n_rel").alias("recall_ppm"),
            "dcg_micro",
            "idcg_micro",
            F.expr("dcg_micro * 1000000 DIV idcg_micro").alias(
                "ndcg_ppm"
            ),
        )
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_ann_topk(load(spark, sf_dir, "embeddings"), query_id=0, k=10)


def q_sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-scan ANN (similarity.sq8_ann_topk): brute-force over
    8-bit scalar-quantized codes (4× fewer scan bytes than float32 at
    scale), exact cosine rerank of the top k×4 candidates only.  The
    corpus [lo, hi] code range is two scalars (ingest-time stats at
    scale); everything else is map-side + TakeOrderedAndProject."""
    return S.sq8_ann_topk(load(spark, sf_dir, "embeddings"), query_id=0, k=10)


def q_sq8_ann_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-codes SQ8 probe: ``similarity.sq8_ann_topk`` over the
    materialized smallint code table (written once per corpus — at
    100 TB the stored column, ~4× fewer scan bytes than the full
    vectors).  Bit-equal to the inline probe, so it shares that
    oracle."""
    emb = load(spark, sf_dir, "embeddings")
    # v2 = +n2 norm column (the prefix versions the layout SCHEMA)
    path = _stored_layout(
        sf_dir, "emb_sq8codes_v2", lambda p: S.write_sq8_codes(emb, p)
    )
    return S.sq8_ann_topk(emb, query_id=0, k=10, path=path)


def q_lsh_ann_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-pruned ANN probe: ``similarity.lsh_ann_topk`` over
    the bucket-partitioned storage layout (the at-scale path) —
    at 100 TB it IS the stored table (Iceberg bucket partitioning),
    not a per-query artifact."""
    emb = load(spark, sf_dir, "embeddings")
    path = _stored_layout(
        sf_dir, "emb_bucketed", lambda p: S.write_bucket_partitioned(emb, p)
    )
    return S.lsh_ann_topk(emb, query_id=0, k=10, path=path)


def _layout_cache_path(
    sf_dir: str, prefix: str, src_table: str = "embeddings"
) -> str:
    """Cache location for a materialized partitioned layout.  The tag
    folds in a DATA fingerprint (``table_fingerprint``: per-file
    mtime+size of the source parquet), not just the path: regenerated
    test data at the same path must invalidate the layout, or a probe
    silently reads stale vectors and returns wrong neighbors.  Engine
    params (planes/quant/centroids) in the name: a layout from an
    older engine version never satisfies a newer probe.  The prefix
    names the layout's written SCHEMA — bump it when that changes."""
    import hashlib

    from .operators.parallelism import table_fingerprint

    stat_sig = table_fingerprint(f"{sf_dir}/{src_table}.parquet")
    tag = hashlib.md5(f"{sf_dir}|{stat_sig}".encode()).hexdigest()[:10]
    return (
        f"/tmp/aes_cache/{prefix}_{tag}"
        f"_p{S.N_PLANES}q{S.QUANT}c{S.N_CENTROIDS}"
    )


def _stored_layout(
    sf_dir: str,
    prefix: str,
    write: Callable[[str], object],
    src_table: str = "embeddings",
    done: str = "_SUCCESS",
) -> str:
    """Path of the cached layout ``prefix`` of ``src_table``, calling
    ``write(path)`` first unless ``path/done`` exists (the marker of a
    completed write)."""
    import os

    path = _layout_cache_path(sf_dir, prefix, src_table)
    if not os.path.exists(f"{path}/{done}"):
        write(path)
    return path


def q_ivf_ann_topk_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-cell IVF probe (``similarity.ivf_ann_topk``, nprobe=2) —
    the standard recall knob; probing all N_CENTROIDS cells is exactly
    brute-force (pinned by test)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.ivf_ann_topk(emb, query_id=0, k=10, nprobe=2)


def q_ivf_ann_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over a k-means-trained codebook (2 Lloyd's
    iterations, similarity.train_ivf_codebook).  The centroid update
    is exact integer floordiv of exact bigint sums, so the entire
    train+probe chain replays bit-for-bit as unrolled CTEs
    (_ivf_ann_sql(train_iters=2)) — the last formerly-no-oracle query;
    tests additionally pin non-increasing within-cell SSE and exact
    within-cell brute-force ranking (test_trained_ivf_codebook)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.ivf_ann_topk(
        emb, query_id=0, k=10, codebook=S.train_ivf_codebook(emb, iters=2)
    )


def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC ANN (Jégou et al., TPAMI 2011) — the
    last rung of the ANN ladder (brute → LSH → IVF → SQ8 → PQ): train
    M=8 per-subspace codebooks jointly (two metadata-bound shuffles
    per Lloyd's iteration for ALL subspaces), encode every vector to M
    centroid ids (16× smaller than float32 at these parameters), scan
    only the codes with a broadcast M·K lookup table of exact integer
    query-to-centroid dots, exact-rerank the k·16 survivors.  Training,
    encoding, and the ADC scan are integer-exact, so the full chain
    replays bit-for-bit as unrolled CTEs (_pq_ann_sql)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.pq_ann_topk(emb, query_id=0, k=10, iters=2)


def q_pq_ann_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-codes PQ probe: ``similarity.pq_ann_topk`` over the
    materialized M-smallint code table and stored codebook — at 100 TB
    the scan reads M·4 bits per vector instead of 256 float32 bytes.
    Bit-equal to the inline pq_ann_topk, so it shares that oracle (the
    bm25_topk_stored precedent)."""
    emb = load(spark, sf_dir, "embeddings")
    path = _stored_layout(
        sf_dir,
        "emb_pqcodes_v1",
        lambda p: S.write_pq_codes(emb, p, iters=2),
        done="codes/_SUCCESS",
    )
    return S.pq_ann_topk(emb, query_id=0, k=10, path=path)


def q_ivf_ann_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-pruned IVF probe over cell-partitioned storage
    (see similarity.ivf_ann_topk_pruned); same oracle as the inline
    IVF probe — identical results, 1/N_CENTROIDS of the scan."""
    emb = load(spark, sf_dir, "embeddings")
    path = _stored_layout(
        sf_dir, "emb_cells", lambda p: S.write_cell_partitioned(emb, p)
    )
    return S.ivf_ann_topk_pruned(emb, query_id=0, k=10, path=path)


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payload feature extraction)
# ---------------------------------------------------------------------------


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return M.media_features(M.documents_as_media(docs))


def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling end-to-end: wrap each document's
    bytes in a RAWV video container (``documents_as_video``), then
    ``sample_frames`` parses the header and takes every 3rd frame.
    The oracle derives the same digests directly from the text (frame
    k == byte-slice k under ASCII purity, pinned by
    test_corpus_purity_assumption) — so the engine's container
    round-trip is verified against an independent reconstruction.
    Zero shuffles: two chained Arrow stages over a pruned scan."""
    docs = load(spark, sf_dir, "documents")
    out = M.sample_frames(M.documents_as_video(docs), every_n=3)
    return out.where(F.col("ok")).select(
        "doc_id", "frame_idx", "n_frames", "frame_digest"
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio end-to-end: wrap each document's bytes as an
    8-bit mono PCM WAV (``documents_as_audio``), then ``audio_features``
    walks the real RIFF chunk structure and computes integer-exact
    metadata + loudness.  The oracle derives every output column
    directly from the text under ASCII purity (sample k is byte k:
    n_samples = octet_length, loudness = Σ(128 − ascii(char)),
    digest = md5(text)) — an independent reconstruction of the full
    container round-trip.  Zero shuffles: two chained Arrow stages
    over a pruned scan (same plan shape as ``frame_samples``)."""
    docs = load(spark, sf_dir, "documents")
    out = M.audio_features(M.documents_as_audio(docs))
    return out.where(F.col("ok")).select(
        "doc_id",
        "sample_rate",
        "channels",
        "bits",
        "n_samples",
        "duration_ms",
        "loud_milli",
        "digest",
    )


# ---------------------------------------------------------------------------
# Extraction engine end-to-end (the flagship)
# ---------------------------------------------------------------------------


def documents_as_interleaved_corpus(docs: DataFrame) -> DataFrame:
    """Build the input_hint span shape (doc_id, url, spans) from the
    documents table — all JVM-side concat expressions, no UDF: each doc
    becomes [text(head+h1+p), media(img), text(closing p + footer)].

    Corpus-purity assumption (shared by every extraction-adjacent
    oracle: extract_interleaved / extract_excerpt / extract_markdown /
    server_response): the driver's document text contains no
    HTML-special characters ('<', '>', '&'), so embedding it verbatim
    in the page cannot introduce parse failures or entity-escaping
    divergence, and the oracles may predict engine outputs analytically
    (e.g. ``TRUE AS success``).  tests/test_pipeline_queries.py::
    test_corpus_purity_assumption asserts this holds for the test data;
    if a future corpus violates it, escape the text here and update the
    oracles together."""
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    head = F.concat(
        F.lit("<html><head><title>"),
        title,
        F.lit(
            ' - Synth</title></head><body>'
            '<header class="site-header"><nav>'
            '<a href="/">Home</a> <a href="/about">About</a></nav></header>'
            '<main><article class="post-content"><h1>'
        ),
        title,
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p>"),
    )
    media_ref = F.concat(
        F.lit("https://cdn.example/img-"),
        F.col("doc_id").cast("string"),
        F.lit(".jpg"),
    )
    tail = F.lit(
        f"<p>{_CLOSING_P}</p></article></main>"
        '<footer class="site-footer"><p>Copyright 2026.</p></footer>'
        "</body></html>"
    )
    span = lambda kind, text, ref, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"),
        text.alias("text"),
        ref.alias("media_ref"),
        F.lit(off).cast("int").alias("offset"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("https://synth.example/docs/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.array(
            span("text", head, F.lit(""), 0),
            span("media", F.lit(""), media_ref, 1),
            span("text", tail, F.lit(""), 2),
        ).alias("spans"),
    )


def q_mixed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format extraction: even docs arrive as real PDFs, odd docs
    as HTML pages, all in ONE binary payload column; the dispatch
    operator sniffs magic bytes per row and routes to the right
    extractor inside a single Arrow stage (one scan, zero shuffles —
    see operators.dispatch).  The oracle predicts both branches
    analytically, so a sniff or routing bug flips half the corpus red.
    """
    from .operators.dispatch import (
        documents_as_mixed,
        extract_documents_auto,
    )

    docs = load(spark, sf_dir, "documents")
    out = extract_documents_auto(
        documents_as_mixed(docs), min_word_count=10
    )
    return out.select(
        "doc_id", "format", "title", "word_count", "n_spans", "success"
    )


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC archive ingest (sources.warc): per-source archive blobs —
    even-numbered sources in the per-record-gzip .warc.gz layout —
    expanded into one row per HTTP response record by a one-to-many
    Arrow stage.  The oracle predicts every record field (frame order,
    URI, the planted 404s, body length + digest) straight from the
    documents table, so framing, gzip-member walking, and HTTP
    splitting are all on the hook."""
    from .sources.warc import documents_as_warc, read_warc_records

    docs = load(spark, sf_dir, "documents")
    out = read_warc_records(documents_as_warc(docs))
    return out.select(
        F.col("archive_id").alias("source"),
        "record_idx",
        "uri",
        "http_status",
        F.length("body").cast("int").alias("n_bytes"),
        F.md5(F.col("body")).alias("digest"),
        "ok",
    )


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete ingest chain in one dataflow: WARC archives →
    record expansion (sources.warc) → HTTP-status gate (the E30
    transient-404 prefilter applied where a real crawl applies it: on
    the archived response status) → per-row format dispatch → spans.
    Bodies alternate real PDFs and HTML pages inside the archives, so
    every stage of the chain is load-bearing.  Three chained Arrow
    stages; the only shuffle is the synthetic adapter's archive
    packing (real ingest reads .warc.gz files directly).  Oracle: the
    mixed-extract predictions minus the planted 404s."""
    from .operators.dispatch import extract_documents_auto
    from .sources.warc import documents_as_mixed_warc, read_warc_records

    docs = load(spark, sf_dir, "documents")
    records = read_warc_records(documents_as_mixed_warc(docs))
    fetched = records.where(
        F.col("ok") & (F.col("http_status") == 200)
    ).select(
        F.regexp_extract(F.col("uri"), "/docs/([0-9]+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("uri").alias("url"),
        F.col("body").alias("payload"),
    )
    out = extract_documents_auto(fetched, min_word_count=10)
    return out.select(
        "doc_id", "format", "title", "word_count", "n_spans", "success"
    )


def q_extract_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction over an interleaved (text+media) span corpus:
    spans → HTML (JVM-side) → single mapInPandas extraction stage →
    per-doc summary.  Oracle predicts title / word count / media count
    from the source text analytically."""
    docs = load(spark, sf_dir, "documents")
    corpus = render_spans_to_html(documents_as_interleaved_corpus(docs))
    result = extract_articles(corpus, min_word_count=10)
    return result.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "title",
        "word_count",
        F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media")).alias(
            "n_media"
        ),
        "success",
    )


def q_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-caption pair mining from interleaved extraction output —
    the (image, nearby text) rows CLIP-style multimodal training runs
    on.  For every media span, pair its media_ref with the text spans
    nearest before and after it in reading order, truncated to the 120
    characters closest to the image.

    Scale shape: the pairing is pure array algebra over each document's
    own spans column (transform-with-index + slice + filter higher-order
    expressions), riding the same shuffle-free extraction map — never an
    explode-then-self-join or a window over a global span stream (which
    would shuffle every span of a 10^12-doc corpus to find neighbors
    that always live in the same row).  The only Generate is the final
    one-row-per-media-span explode.  The oracle predicts the engine's
    span sequence analytically (corpus-purity regime, as
    extract_spans_full) and applies the same neighbor/truncation rule in
    SQL."""
    docs = load(spark, sf_dir, "documents")
    corpus = render_spans_to_html(documents_as_interleaved_corpus(docs))
    result = extract_articles(corpus, min_word_count=10)
    pairs = F.expr(
        """
        filter(
          transform(spans, (s, i) ->
            CASE WHEN s.kind = 'media' THEN named_struct(
              'media_ref', s.media_ref,
              'cap_before', right(try_element_at(
                 transform(filter(slice(spans, 1, i), x -> x.kind = 'text'),
                           x -> x.text), -1), 120),
              'cap_after', left(try_element_at(
                 transform(filter(slice(spans, i + 2, size(spans)),
                                  x -> x.kind = 'text'),
                           x -> x.text), 1), 120)
            ) END),
          p -> p IS NOT NULL)
        """
    )
    return result.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(pairs).alias("p"),
    ).select(
        "doc_id",
        F.col("p.media_ref").alias("media_ref"),
        F.col("p.cap_before").alias("cap_before"),
        F.col("p.cap_after").alias("cap_after"),
    )


def q_transient_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E30 transient-404 salvage heuristic (extractor.py:434-455) as a
    pushed-down pre-filter: documents worth extracting have ≥500 chars
    of HTML and an article marker."""
    docs = load(spark, sf_dir, "documents")
    corpus = render_spans_to_html(documents_as_interleaved_corpus(docs))
    keep = (F.length("html") >= 500) & (
        F.col("html").contains("<article")
        | F.col("html").contains("<main")
        | F.col("html").contains("</p>")
    )
    return corpus.select(
        F.col("doc_id").cast("long").alias("doc_id"), keep.alias("extractable")
    )


def documents_as_metadata_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, html) pages with a metadata-rich head, built entirely
    from JVM concat expressions so the oracle can predict every
    extracted field analytically (the corpus-purity regime of
    ``documents_as_interleaved_corpus``).

    Presence rules exercise the extractor's conditional paths:
    og:description absent when doc_id%5==0, og:image absent when
    doc_id%7==0, article:published_time only when doc_id%2==0, JSON-LD
    block absent when doc_id%3==0 and MALFORMED (truncated JSON) when
    doc_id%11==0 (must yield NULLs, not a crash).  The JSON-LD author
    alternates between a Person object and a bare string (both schema.org
    shapes), and a duplicate og:title near the end of head pins
    first-wins semantics."""
    did = F.col("doc_id").cast("string")
    idn = F.col("doc_id")
    title = F.concat(F.lit("Doc "), did)
    headline = F.concat(title, F.lit(" - Synth"))
    author = F.concat(
        F.lit("Author "), F.pmod(idn, F.lit(7)).cast("string")
    )
    pub = F.concat(
        F.lit("2026-01-"),
        F.lpad((F.pmod(idn, F.lit(28)) + 1).cast("string"), 2, "0"),
        F.lit("T12:00:00Z"),
    )
    desc = F.substring(F.col("text"), 1, 80)
    img = F.concat(F.lit("https://cdn.example/img-"), did, F.lit(".jpg"))
    canonical = F.concat(F.lit("https://synth.example/docs/"), did)
    author_json = F.when(
        F.pmod(idn, F.lit(2)) == 0,
        F.concat(F.lit('{"@type":"Person","name":"'), author, F.lit('"}')),
    ).otherwise(F.concat(F.lit('"'), author, F.lit('"')))
    jsonld = F.concat(
        F.lit(
            '<script type="application/ld+json">'
            '{"@context":"https://schema.org",'
            '"@type":"NewsArticle","headline":"'
        ),
        headline,
        F.lit('","author":'),
        author_json,
        F.lit("}</script>"),
    )
    jsonld_block = (
        F.when(F.pmod(idn, F.lit(3)) == 0, F.lit(""))
        .when(
            F.pmod(idn, F.lit(11)) == 0,
            F.lit(
                '<script type="application/ld+json">'
                '{"@type":"NewsArticle","headline":</script>'
            ),
        )
        .otherwise(jsonld)
    )
    html = F.concat(
        F.lit("<html><head><title>"),
        title,
        F.lit(" - Synth</title>"),
        F.lit('<meta property="og:title" content="'),
        title,
        F.lit('"/>'),
        F.when(F.pmod(idn, F.lit(5)) == 0, F.lit("")).otherwise(
            F.concat(
                F.lit('<meta property="og:description" content="'),
                desc,
                F.lit('"/>'),
            )
        ),
        F.when(F.pmod(idn, F.lit(7)) == 0, F.lit("")).otherwise(
            F.concat(
                F.lit('<meta property="og:image" content="'),
                img,
                F.lit('"/>'),
            )
        ),
        F.lit('<link rel="canonical" href="'),
        canonical,
        F.lit('"/>'),
        F.when(
            F.pmod(idn, F.lit(2)) == 0,
            F.concat(
                F.lit('<meta property="article:published_time" content="'),
                pub,
                F.lit('"/>'),
            ),
        ).otherwise(F.lit("")),
        jsonld_block,
        F.lit('<meta property="og:title" content="WRONG-dup"/>'),
        F.lit("</head><body><article><h1>"),
        title,
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p></article></body></html>"),
    )
    return docs.select(did.alias("doc_id"), html.alias("html"))


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference provenance metadata (og:*, canonical, JSON-LD
    Article) through the real DOM parser; the oracle predicts every
    field analytically from the documents table under the same
    presence rules the corpus builder encodes."""
    docs = load(spark, sf_dir, "documents")
    corpus = documents_as_metadata_corpus(docs)
    meta = page_metadata(corpus)
    return meta.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "og_title",
        "og_description",
        "og_image",
        "canonical_url",
        "published_time",
        "headline",
        "author",
    )


def q_extract_excerpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28 excerpt through the full engine: run extraction, return the
    excerpt column; the oracle recomputes the excerpt rule (≤200 chars,
    word-boundary ≥140, '...') directly from the source text in SQL."""
    docs = load(spark, sf_dir, "documents")
    corpus = render_spans_to_html(documents_as_interleaved_corpus(docs))
    result = extract_articles(corpus, min_word_count=10)
    return result.select(
        F.col("doc_id").cast("long").alias("doc_id"), "excerpt"
    )


def extract_spans_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw flagship DataFrame: full nested span output
    (array<struct>), the shape downstream consumers read.  Used by
    ``entry()`` and the job path; the driver-facing query below
    serializes the nested columns so they canonicalize."""
    docs = load(spark, sf_dir, "documents")
    corpus = render_spans_to_html(documents_as_interleaved_corpus(docs))
    return extract_articles(corpus, min_word_count=10)


def q_extract_spans_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship, driver-facing: same extraction as
    ``extract_spans_raw`` with the nested ``spans``/``warnings`` columns
    serialized to JSON — the driver's rows-only canonicalization sorts
    and hashes cell values, and pandas cannot sort/hash list cells
    (round-1 red row: TypeError unhashable type 'list').  Span-level
    value correctness is pinned by the golden fixture corpus
    (tests/test_golden_corpus.py, span-sequence equality vs reference
    fixtures, reference contract types.py:16-31)."""
    result = extract_spans_raw(spark, sf_dir)
    return result.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "title",
        "word_count",
        F.size("spans").alias("n_spans"),
        F.to_json("spans").alias("spans_json"),
        F.to_json("warnings").alias("warnings_json"),
        "success",
    )


RATE_LIMIT_DELAY_US = 1_500_000  # 1.5 s — reference's max backoff
# (crawler.py:102-131 caps retry delay at 1.5 s; default per-host
# delay is 1.0 s, docs/reference.md:33-35)


def q_rate_limit_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 per-host rate limit (crawler.py:45-53, 235-247), replayed in
    batch with a closed form instead of the reference's sequential
    next-available loop.

    The limiter dispatches each host's request at
    ``s_i = max(ts_i, s_{i-1} + D)`` (min spacing D, never before
    arrival).  Unrolled: ``s_i = max_{j<=i}(ts_j + (i-j)·D)
    = running_max(ts_j − j·D) + i·D`` — a per-host running window max,
    fully parallel across hosts (one shuffle on host, no iteration, no
    UDF).  Output is each request's computed throttle wait in µs."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t = ev.withColumn("rn", F.row_number().over(w) - 1).withColumn(
        "base", F.col("ts_us") - F.col("rn") * RATE_LIMIT_DELAY_US
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sched = F.max("base").over(w_run) + F.col("rn") * RATE_LIMIT_DELAY_US
    return t.select(
        "user_id",
        "event_id",
        (sched - F.col("ts_us")).cast("long").alias("wait_us"),
    )


def q_rate_limit_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 adaptive per-host backoff replay (rate_limiter.py:29-109):
    the full 429 semantics — ×2.0/×1.5/×1.25 multiplier by
    time-since-last-429 (<30 s/<60 s/else), extra ×1.5 after 3
    consecutive 429s, ×0.9 decay per 10-success streak, clamped to
    [0.5 s, 120 s].

    The recurrence is genuinely sequential per host (the multiplier
    depends on consecutive-counts and the previous delay through
    clamps), so no closed form exists.  Dataflow: one shuffle on host
    (``repartition``) + ``sortWithinPartitions(host, ts, event_id)``,
    then a PARTITION-level ``mapInPandas`` fold that resets its state
    at host boundaries and carries it across Arrow batches within a
    partition.  This is deliberately NOT ``groupBy.applyInPandas``:
    with ~67 events/host the per-group pandas construction dominated
    (measured 4.9 s → 1.0 s at sf0.1 for the identical fold); the
    partition-level fold does the same single shuffle but amortizes
    Python/Arrow overhead over whole partitions.  Host groups stay
    independent, so the fold parallelizes across hosts — at 100 TB the
    per-host event sequence is bounded (one crawler's request log),
    and this is crawl-control simulation, NOT the document hot path.
    Events: user_id stands in for host; every 10th event_id is a 429.
    The replay clock is the event timestamp compressed 4096× (an exact
    ``>> 12`` on both sides) so the corpus's 429 gaps actually exercise
    all three time-window multiplier branches (uncompressed, every gap
    lands in the ≥60 s arm and the ×2.0/×1.5 branches would be dead
    code in the oracle comparison).  Delay is emitted as floor(µs) so
    the DuckDB recursive-CTE oracle (identical IEEE-double op order)
    matches bit-exactly."""
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_id"),
        F.shiftright(
            F.unix_micros(F.col("ts").cast("timestamp")), 12
        ).alias("ts_us"),
        F.when((F.col("event_id") % 10) == 0, F.lit(429))
        .otherwise(F.lit(200))
        .alias("status"),
    )

    def replay_partition(batches):
        import math

        import numpy as np
        import pandas as pd

        # running state, carried across Arrow batches; host boundaries
        # reset it (rows arrive sorted by host, ts, event_id)
        cur_host = None
        delay, c429, csucc = 2.0, 0, 0
        last429_us = None
        for pdf in batches:
            hosts = pdf["user_id"].to_numpy()
            tss = pdf["ts_us"].to_numpy()
            stats = pdf["status"].to_numpy()
            out = np.empty(len(pdf), dtype=np.int64)
            for i in range(len(pdf)):
                if hosts[i] != cur_host:
                    cur_host = hosts[i]
                    delay, c429, csucc = 2.0, 0, 0
                    last429_us = None
                if stats[i] == 429:
                    ts_us = int(tss[i])
                    csucc = 0
                    c429 += 1
                    if last429_us is None:
                        mult = 1.25
                    elif ts_us - last429_us < 30_000_000:
                        mult = 2.0
                    elif ts_us - last429_us < 60_000_000:
                        mult = 1.5
                    else:
                        mult = 1.25
                    last429_us = ts_us
                    if c429 >= 3:
                        mult *= 1.5
                    delay = min(120.0, delay * mult)
                else:
                    c429 = 0
                    csucc += 1
                    if csucc >= 10:
                        delay = max(0.5, delay * 0.9)
                        csucc = 0
                out[i] = math.floor(delay * 1_000_000)
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "event_id": pdf["event_id"],
                    "status": pdf["status"],
                    "delay_us": pd.Series(out),
                }
            )

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(
            replay_partition,
            schema="user_id long, event_id long, status int, delay_us long",
        )
    )


def q_lineage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup over per-(source, bucket) corpus metrics —
    the one classic aggregation family the reference lacks entirely
    (SURVEY.md §2.3 "no grouping sets/cube/rollup"); closes the classic
    operator checklist.  Subtotal rows carry NULL group keys, exactly as
    ANSI ROLLUP defines them."""
    docs = load(spark, sf_dir, "documents")
    slim = docs.select(
        "source",
        (F.col("doc_id") % 4).cast("int").alias("bucket"),
        X.token_count(F.col("text")).alias("n_tokens"),
    )
    return slim.rollup("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def q_sitemap_locs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 sitemap source, batch analog (sitemap_parser.py:19-127): build
    one urlset XML document per source, then recover every ``<loc>``
    entry with JVM-side ``regexp_extract_all`` + explode — the
    distributed form of sitemap URL discovery (network fetch is out of
    scope; the XML column stands in for the fetched sitemap body)."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
    )
    sitemaps = (
        docs.groupBy("source")
        .agg(F.array_sort(F.collect_list(url)).alias("urls"))
        .select(
            "source",
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.col("urls"),
                        lambda u: F.concat(
                            F.lit("<loc>"), u, F.lit("</loc>")
                        ),
                    ),
                ),
                F.lit("</urlset>"),
            ).alias("xml"),
        )
    )
    locs = sitemaps.select(
        "source",
        F.explode(
            F.regexp_extract_all(
                F.col("xml"), F.lit("<loc>([^<]*)</loc>"), F.lit(1)
            )
        ).alias("loc"),
    )
    return locs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_urls"), F.min("loc").alias("first_loc")
    )


def q_sitemap_index_locs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 sitemap-index recursion (sitemap_parser.py:19-127): resolve a
    ``<sitemapindex>`` whose ``<sitemap><loc>`` children point at
    nested per-source urlsets, exactly as the reference's recursive
    loader does — plus one urlset seeded directly, covering both input
    kinds in one run.

    The index deliberately references only the even-numbered sources
    (and the direct seed is src1), so the output's source membership is
    evidence the resolution really went through the index rather than
    scanning all urlsets.  Scale shape: nested sitemap refs are tiny →
    broadcast semi-join against the fetched-bodies table (no shuffle of
    the bodies); loc recovery is JVM regexp + explode."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
    )
    sitemap_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/sitemap.xml")
    )
    urlsets = (
        docs.groupBy("source")
        .agg(F.array_sort(F.collect_list(url)).alias("urls"))
        .select(
            "source",
            sitemap_url.alias("sitemap_url"),
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.col("urls"),
                        lambda u: F.concat(
                            F.lit("<loc>"), u, F.lit("</loc>")
                        ),
                    ),
                ),
                F.lit("</urlset>"),
            ).alias("xml"),
        )
    )
    src_num = F.regexp_extract(F.col("source"), "src([0-9]+)", 1).cast("int")
    index_url = "https://hub.example.com/sitemap-index.xml"
    index = (
        urlsets.where(src_num % 2 == 0)
        .agg(F.array_sort(F.collect_list("sitemap_url")).alias("children"))
        .select(
            F.lit("").alias("source"),
            F.lit(index_url).alias("sitemap_url"),
            F.concat(
                F.lit("<sitemapindex>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.col("children"),
                        lambda u: F.concat(
                            F.lit("<sitemap><loc>"), u, F.lit("</loc></sitemap>")
                        ),
                    ),
                ),
                F.lit("</sitemapindex>"),
            ).alias("xml"),
        )
    )
    fetched = urlsets.unionByName(index)
    seeds = fetched.where(
        F.col("sitemap_url").isin(
            index_url, "https://src1.example.com/sitemap.xml"
        )
    )
    is_index = F.col("xml").startswith("<sitemapindex")
    direct = seeds.where(~is_index)
    child_refs = (
        seeds.where(is_index)
        .select(
            F.explode(
                F.regexp_extract_all(
                    F.col("xml"), F.lit("<loc>([^<]*)</loc>"), F.lit(1)
                )
            ).alias("sitemap_url")
        )
        .distinct()
    )
    child_bodies = fetched.join(
        F.broadcast(child_refs), "sitemap_url", "leftsemi"
    )
    # visited-set dedup (a urlset both seeded and indexed parses once)
    resolved = direct.unionByName(child_bodies).dropDuplicates(
        ["sitemap_url"]
    )
    locs = resolved.select(
        "source",
        F.explode(
            F.regexp_extract_all(
                F.col("xml"), F.lit("<loc>([^<]*)</loc>"), F.lit(1)
            )
        ).alias("loc"),
    )
    return locs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_urls"), F.min("loc").alias("first_loc")
    )


SITEMAP_ROOT = "https://hub.example.com/root.xml"
SITEMAP_SEED_URLSET = "https://src1.example.com/sitemap.xml"


def _sitemap_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-level sitemap tree over the documents table:
    root index → mid indexes → per-group sub indexes → per-source
    urlsets.  The root lists ONLY mid-0, and mid-0 lists only sub-0 and
    sub-2 — so reachability (sources with src_num % 3 ∈ {0, 2}) is
    structural evidence the resolver actually recursed rather than
    scanning every urlset; mid-1/sub-1 exist in the fetched table but
    are orphans.  Returns (source, sitemap_url, xml)."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
    )
    sitemap_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/sitemap.xml")
    )
    urlsets = (
        docs.groupBy("source")
        .agg(F.array_sort(F.collect_list(url)).alias("urls"))
        .select(
            "source",
            sitemap_url.alias("sitemap_url"),
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.col("urls"),
                        lambda u: F.concat(F.lit("<loc>"), u, F.lit("</loc>")),
                    ),
                ),
                F.lit("</urlset>"),
            ).alias("xml"),
        )
    )
    src_num = F.regexp_extract(F.col("source"), "src([0-9]+)", 1).cast("int")
    subs = (
        urlsets.withColumn("g", src_num % 3)
        .groupBy("g")
        .agg(F.array_sort(F.collect_list("sitemap_url")).alias("children"))
        .select(
            F.lit("").alias("source"),
            F.concat(
                F.lit("https://hub.example.com/sub-"),
                F.col("g").cast("string"),
                F.lit(".xml"),
            ).alias("sitemap_url"),
            F.concat(
                F.lit("<sitemapindex>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.col("children"),
                        lambda u: F.concat(
                            F.lit("<sitemap><loc>"), u, F.lit("</loc></sitemap>")
                        ),
                    ),
                ),
                F.lit("</sitemapindex>"),
            ).alias("xml"),
        )
    )

    def _index_row(own_url: str, children: list[str]):
        xml = (
            "<sitemapindex>"
            + "".join(f"<sitemap><loc>{u}</loc></sitemap>" for u in children)
            + "</sitemapindex>"
        )
        return ("", own_url, xml)

    statics = spark.createDataFrame(
        [
            _index_row(SITEMAP_ROOT, ["https://hub.example.com/mid-0.xml"]),
            _index_row(
                "https://hub.example.com/mid-0.xml",
                [
                    "https://hub.example.com/sub-0.xml",
                    "https://hub.example.com/sub-2.xml",
                ],
            ),
            _index_row(
                "https://hub.example.com/mid-1.xml",
                ["https://hub.example.com/sub-1.xml"],
            ),
        ],
        "source string, sitemap_url string, xml string",
    )
    return urlsets.unionByName(subs).unionByName(statics)


def q_sitemap_tree_locs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 at arbitrary depth (sitemap_parser.py:19-127 recurses with no
    depth bound): resolve a 4-level sitemapindex tree by
    LOOP-UNTIL-FIXPOINT — the crawl_frontier pattern — instead of
    q_sitemap_index_locs's fixed two levels.  Per round: broadcast the
    (tiny) frontier against the fetched-bodies table, collect urlset
    bodies, extract child refs from index bodies, anti-join the visited
    set, localCheckpoint to keep lineage flat.  Terminates when a round
    discovers no new sitemap URL, whatever the tree depth; cycles are
    cut by the visited set.

    Scale shape: index bodies are metadata-tiny (broadcast semi-joins);
    the corpus-sized side (urlset bodies) is touched once per reachable
    urlset, never re-scanned per level.  Oracle: a recursive CTE over
    the same tree's edge relation."""
    # eager localCheckpoint, not persist: probed once per level and by
    # the returned union; checkpoint blocks free with the plan instead
    # of pinning the session's CacheManager (review r4)
    fetched = _sitemap_tree(spark, sf_dir).localCheckpoint(eager=True)
    is_index = F.col("xml").startswith("<sitemapindex")
    frontier = spark.createDataFrame(
        [(SITEMAP_ROOT,), (SITEMAP_SEED_URLSET,)], "sitemap_url string"
    )
    visited = frontier
    collected: list[DataFrame] = []
    while True:
        bodies = fetched.join(F.broadcast(frontier), "sitemap_url")
        collected.append(bodies.where(~is_index))
        frontier = (
            bodies.where(is_index)
            .select(
                F.explode(
                    F.regexp_extract_all(
                        F.col("xml"), F.lit("<loc>([^<]*)</loc>"), F.lit(1)
                    )
                ).alias("sitemap_url")
            )
            .distinct()
            .join(visited, "sitemap_url", "left_anti")
            .localCheckpoint()  # eager: the round's ONE materialization
        )
        # isEmpty on the just-checkpointed frame is a take(1) over
        # materialized partitions; visited stays a UNION of checkpointed
        # frontiers (lineage already flat — re-checkpointing it was one
        # more eager job per level, the crawl_frontier lesson)
        if frontier.isEmpty():
            break
        visited = visited.unionByName(frontier)
    resolved = collected[0]
    for df in collected[1:]:
        resolved = resolved.unionByName(df)
    locs = resolved.dropDuplicates(["sitemap_url"]).select(
        "source",
        F.explode(
            F.regexp_extract_all(
                F.col("xml"), F.lit("<loc>([^<]*)</loc>"), F.lit(1)
            )
        ).alias("loc"),
    )
    return locs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_urls"), F.min("loc").alias("first_loc")
    )


def q_robots_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt evaluation (RFC 9309) — crawl politeness, the gate in
    front of every fetch the reference performs but never models (its
    fetcher trusts the caller; a corpus-scale crawler cannot).

    Per source a deterministic robots.txt body is built with TWO
    user-agent groups: a decoy ``other-bot`` group disallowing
    everything — which must be IGNORED (group selection evidence) — and
    the ``*`` group with a digit-prefix disallow, a longer allow that
    overrides it for a sub-prefix, and a never-matching disallow.  The
    engine genuinely PARSES the body (group section extract + line
    explode, all JVM regex), applies longest-match precedence with
    allow-winning-ties to every document URL, and emits per-URL
    verdicts.  The oracle predicts the verdicts analytically from the
    rule-generation scheme — parser bugs, group leakage, or precedence
    mistakes all flip rows red.

    Scale shape: robots rules are tiny per host (the rules table is
    broadcast; the URL side never shuffles for the join) and verdicts
    are a per-URL bounded expansion (≤ rules-per-host) folded back by
    ONE ``max_by`` aggregation — longest-match precedence expressed as
    a partial-aggregable max over (prefix_len, is_allow), so the
    reduction combines map-side.  A zero-length default-Allow rule per
    host makes "no rule matched → allowed" fall out of the same max
    (it loses every tie), eliminating the outer join a naive
    formulation needs.
    """
    docs = load(spark, sf_dir, "documents")
    src_num = F.regexp_extract(F.col("source"), "src([0-9]+)", 1)
    robots_txt = F.concat(
        F.lit("User-agent: other-bot\nDisallow: /\n\n"),
        F.lit("User-agent: *\n"),
        F.lit("Disallow: /docs/"), src_num, F.lit("\n"),
        F.lit("Allow: /docs/"), src_num,
        (src_num.cast("int") % 10).cast("string"), F.lit("\n"),
        F.lit("Disallow: /private\n"),
    )
    robots = docs.select("source").distinct().select(
        "source", robots_txt.alias("robots_txt")
    )
    # the '*' group section: lines after 'User-agent: *' up to the next
    # blank line (RFC 9309 groups are blank-line/UA-delimited)
    star_section = F.regexp_extract(
        F.col("robots_txt"),
        "(?s)User-agent: \\*\\n(.*?)(?:\\n\\n|$)",
        1,
    )
    rules = (
        robots.select(
            "source",
            F.explode(F.split(star_section, "\n")).alias("line"),
        )
        .where(F.col("line").rlike("^(Allow|Disallow): *[^ ]"))
        .select(
            "source",
            (F.substring_index("line", ":", 1) == "Allow").alias("is_allow"),
            F.trim(
                F.expr("substring(line, instr(line, ':') + 1)")
            ).alias("prefix"),
        )
    )
    default_rule = robots.select(
        "source",
        F.lit(True).alias("is_allow"),
        F.lit("").alias("prefix"),
    )
    rules = rules.unionByName(default_rule)
    urls = docs.select(
        "doc_id",
        "source",
        F.concat(F.lit("/docs/"), F.col("doc_id").cast("string")).alias(
            "path"
        ),
    )
    matched = urls.join(F.broadcast(rules), "source").where(
        F.col("path").startswith(F.col("prefix"))
    )
    # RFC 9309 precedence: longest prefix wins; allow wins length ties
    # — exactly a max over (prefix_len, is_allow), partial-aggregable
    return matched.groupBy("doc_id", "source").agg(
        F.max_by(
            "is_allow", F.struct(F.length("prefix"), F.col("is_allow"))
        ).alias("allowed")
    )


DISCOVERY_SECTIONS = ["news", "blog", "docs", "tags", "about"]
DISCOVERY_MIN_CHARS = 300  # extraction-yield success bar (median n_chars)
DISCOVERY_TOPK = 100
DISCOVERY_NEXT_OFFSET = 10_000_000  # pending-wave doc ids, sf-independent


def q_discovery_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive discovery prioritization — the last descoped corner of
    the reference's crawler (discovery.py:40-54 exposes only FIFO BFS
    plus caller hooks ``should_process_url`` / ``skip_recently_visited``;
    its adaptivity lives entirely in the per-host rate limiter, already
    modeled by ``rate_limit_adaptive``).  A corpus-scale discovery
    crawler cannot stay FIFO: it learns which URL *patterns* yield
    articles and schedules the pending frontier by that prior
    (the Heritrix/StormCrawler "yield-based frontier" shape).

    Model: every fetched document's URL carries a path pattern
    (section = doc_id-derived, the URL-pattern clustering stand-in);
    its extraction outcome is a success iff n_chars clears the yield
    bar.  Fold history to per-(host, pattern) Laplace-smoothed priors
    ``(successes+1)/(fetched+2)``, broadcast the tiny prior table onto
    the pending frontier (one discovered out-link per document, in a
    doc-derived pattern), and take the top-k URLs by (prior desc, url).

    Scale shape: history fold is ONE partial-aggregable hash aggregate
    (hosts × patterns rows out — metadata-scale); the frontier never
    shuffles (broadcast-joined priors); the top-k is
    TakeOrderedAndProject (k rows per partition cross the wire, never
    the frontier).  No windows, no driver loops."""
    docs = load(spark, sf_dir, "documents")
    sections = F.array(*[F.lit(s) for s in DISCOVERY_SECTIONS])
    n_sec = len(DISCOVERY_SECTIONS)
    hist_pattern = F.element_at(
        sections, (F.col("doc_id") % n_sec).cast("int") + 1
    )
    priors = (
        docs.select(
            F.col("source").alias("host"),
            hist_pattern.alias("pattern"),
            (F.col("n_chars") >= DISCOVERY_MIN_CHARS)
            .cast("int")
            .alias("ok"),
        )
        .groupBy("host", "pattern")
        .agg(
            F.count(F.lit(1)).alias("fetched"),
            F.sum("ok").cast("bigint").alias("successes"),
        )
        .withColumn(
            "prior",
            (F.col("successes") + F.lit(1.0))
            / (F.col("fetched") + F.lit(2.0)),
        )
    )
    front_pattern = F.element_at(
        sections, ((F.col("doc_id") * 3 + 1) % n_sec).cast("int") + 1
    )
    frontier = docs.select(
        F.col("source").alias("host"),
        front_pattern.alias("pattern"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            front_pattern,
            F.lit("/"),
            (F.col("doc_id") + DISCOVERY_NEXT_OFFSET).cast("string"),
        ).alias("url"),
    )
    return (
        frontier.join(F.broadcast(priors), ["host", "pattern"])
        .select("url", "host", "pattern", "fetched", "successes", "prior")
        .orderBy(F.desc("prior"), "url")
        .limit(DISCOVERY_TOPK)
    )


MD_SUFFIX = ".md"


def markdown_variant_expr(url: Column, is_seed: Column) -> Column:
    """The reference's ``_convert_to_markdown_url`` decision table
    (discovery.py:748-785) as one pure column expression over an
    arbitrary URL column — factored out of ``q_markdown_variant_urls``
    so the hypothesis fuzz differential can drive it over generated
    URLs.  Semantics notes: early-return arms yield the input VERBATIM
    (query/fragment intact); converted arms rebuild through the
    urlunparse shape with query and fragment dropped
    (allow_querystrings=False, the reference default)."""
    scheme = F.regexp_extract(url, r"^([a-z]+)://", 1)
    netloc = F.regexp_extract(url, r"^[a-z]+://([^/?#]*)", 1)
    raw_path = F.regexp_extract(url, r"^[a-z]+://[^/?#]*([^?#]*)", 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    trimmed = F.regexp_replace(path, "/+$", "")
    seg = F.element_at(F.split(trimmed, "/"), -1)
    has_dot = seg.contains(".")
    ext = F.lower(F.regexp_extract(seg, r"\.([^.]*)$", 1))
    html_ext = ext.isin("html", "htm")
    stripped = trimmed.substr(
        F.lit(1), F.length(trimmed) - F.length(ext) - F.lit(1)
    )
    md_path = (
        F.when(trimmed.endswith(MD_SUFFIX), trimmed)
        .when(~has_dot, F.concat(trimmed, F.lit(MD_SUFFIX)))
        .otherwise(F.concat(stripped, F.lit(MD_SUFFIX)))
    )
    passthrough = (
        is_seed
        | (trimmed == "")
        | (has_dot & ~trimmed.endswith(MD_SUFFIX) & ~html_ext)
    )
    return F.when(passthrough, url).otherwise(
        F.concat(scheme, F.lit("://"), netloc, md_path)
    )


def q_markdown_variant_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The discovery crawler's markdown-URL-suffix conversion
    (reference discovery.py:748-785, ``_convert_to_markdown_url``) as a
    pure column map: docs sites that serve ``page.md`` next to
    ``page.html`` let the crawler fetch markdown directly.  The exact
    reference decision table, pinned branch by branch on synthesized
    URLs (shape = doc_id % 8 covers every arm):

    - seeds and suffix-less configs pass through VERBATIM (query and
      fragment intact — the early returns never reach urlunparse);
    - root path ('' after rstrip('/')) passes through verbatim;
    - a dotted last segment with a non-html extension (.pdf, .tar.gz)
      passes through verbatim;
    - a trailing-``.md`` path keeps its path but is REBUILT through
      urlunparse (fragment dropped, query dropped when
      allow_querystrings=false — the reference default);
    - ``.html``/``.htm`` (case-insensitive) is stripped before the
      suffix is appended; bare segments get the suffix appended;
      trailing slashes are rstripped first.

    Scale shape: zero-exchange whole-stage-codegen'd string
    expressions over a (doc_id, source)-pruned scan — no UDF, no
    shuffle, no driver round-trip.  A unit test replays the reference
    algorithm verbatim in Python (urlparse/urlunparse) over the same
    rows and asserts equality row-for-row."""
    docs = load(spark, sf_dir, "documents")
    base = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com"))
    i = F.col("doc_id").cast("string")
    shape = F.pmod(F.col("doc_id"), F.lit(8))
    url = (
        F.when(shape == 0, F.concat(base, F.lit("/#top")))
        .when(shape == 1, F.concat(base, F.lit("/news/item-"), i))
        .when(
            shape == 2,
            F.concat(base, F.lit("/docs/page-"), i, F.lit(".html?ref=rss")),
        )
        .when(shape == 3, F.concat(base, F.lit("/docs/page-"), i, F.lit(".HTM")))
        .when(
            shape == 4,
            F.concat(base, F.lit("/files/report-"), i, F.lit(".pdf?dl=1")),
        )
        .when(shape == 5, F.concat(base, F.lit("/guide/intro-"), i, F.lit(".md#s2")))
        .when(shape == 6, F.concat(base, F.lit("/a/b-"), i, F.lit("///")))
        .otherwise(F.concat(base, F.lit("/c.v2/d-"), i))
    )
    t = docs.select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(13)) == 0).alias("is_seed"),
        url.alias("url"),
    )
    md_url = markdown_variant_expr(F.col("url"), F.col("is_seed"))
    return t.select(
        "doc_id",
        "is_seed",
        "url",
        md_url.alias("md_url"),
        (md_url != F.col("url")).alias("changed"),
    )


# fastText-style quality classifier (Joulin et al. 2017; the
# DCLM/CCNet-style corpus-quality gate): a linear model over hashed
# unigram+bigram features.  Weights are a closed-form integer function
# of the bucket id (micro-units), so inference needs NO weight table at
# all — the model is baked into the expression and the scoring pass is
# a zero-exchange map.  A trained model swaps the closed form for a
# 4096-entry array literal (the DSIR weight-table pattern) — same plan.
FT_BUCKETS = 4096
FT_WEIGHT_MOD = 2001  # weights span [-1000, 1000] micro-units


def q_fasttext_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shape quality-classifier INFERENCE over the corpus:
    score(doc) = Σ w[h(feature)] over hashed unigram + bigram features
    of the lowercased whitespace tokens; keep iff score ≥ 0.  This is
    the quality-gate shape used to build LLaMA/DCLM-style corpora
    (classifier scores every document, threshold selects).

    Exactness: md5-derived buckets (the DSIR hashing trick) and
    integer micro-unit weights — sums are order-independent, so Spark
    and DuckDB agree bit-for-bit.

    Scale shape: ZERO exchanges — tokenize, build the bigram list with
    zip_with over two slices (no explode: features stay inside the
    row), fold with a higher-order aggregate.  Per-partition output is
    4 scalars/doc; at 10^12 docs nothing shuffles and the scan prunes
    to (doc_id, text)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.col("toks")
    n = F.size(toks)
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit("_"), b),
        )
    )

    def bucket(s: Column) -> Column:
        return F.pmod(X.md5_int(s), F.lit(FT_BUCKETS))

    def weight(b: Column) -> Column:
        return F.pmod(
            X.md5_int(F.concat(F.lit("w"), b.cast("string"))),
            F.lit(FT_WEIGHT_MOD),
        ) - F.lit(1000)

    feats = F.concat(
        F.transform(toks, bucket), F.transform(bigrams, bucket)
    )
    t = docs.select(
        "doc_id", X.ws_tokens(F.lower(F.col("text"))).alias("toks")
    ).select("doc_id", feats.alias("feats"))
    score = F.aggregate(
        F.col("feats"), F.lit(0).cast("long"), lambda acc, b: acc + weight(b)
    )
    return t.select(
        "doc_id",
        F.size("feats").alias("n_feats"),
        score.alias("score"),
        (score >= 0).alias("keep"),
    )


def nfc_normalize_pudf():
    """Unicode NFC normalization as an Arrow-batched scalar pandas UDF
    — the canonical text-fixing pass every training pipeline runs
    before tokenization (combining sequences → precomposed forms, so
    'e'+U+0301 and 'é' dedup/tokenize identically).

    Spark SQL has no built-in normalizer, so this is one of the
    legitimate Python-kernel cases (the image-decode precedent): the
    kernel is a C-implemented table lookup (CPython ``unicodedata``),
    Arrow moves the batches, and the column it runs over should be
    pruned to (id, text) first.  ASCII fast path: ``str.isascii`` is a
    C scan, and ASCII is NFC by construction, so pure-ASCII batches
    skip the normalizer entirely.
    """
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(texts):
        def one(v):
            if v is None or v.isascii():
                return v
            return unicodedata.normalize("NFC", v)

        return texts.map(one)

    _nfc.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf("string")(_nfc)


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC text fixing (the ftfy/cleanup pass before
    tokenization): combining sequences fold to precomposed forms so
    'cafe'+U+0301 and 'café' hash/dedup/tokenize identically.  Input
    texts get a deterministic decomposed decoration (doc_id % 4 arms:
    combining acute, combining tilde, ring+diaeresis, and an
    already-composed control that must pass through unchanged).

    Engine side runs the Arrow-batched ``nfc_normalize_pudf`` kernel
    (Spark SQL has no built-in normalizer — the documented legitimate
    Python-kernel case, with a C-level ASCII fast path); the oracle is
    DuckDB's independent utf8proc implementation of the same Unicode
    algorithm — cross-library agreement IS the correctness claim.

    Scale shape: scan pruned to (doc_id, text), one MapInArrow stage,
    zero exchanges; ``delta_cp`` (codepoints removed by composition)
    and ``changed`` ride the same projection."""
    docs = load(spark, sf_dir, "documents")
    shape = F.pmod(F.col("doc_id"), F.lit(4))
    decor = (
        F.when(shape == 0, F.lit(" cafe\u0301 plain"))
        .when(shape == 1, F.lit(" man\u0303ana"))
        .when(shape == 2, F.lit(" A\u030Angstro\u0308m"))
        .otherwise(F.lit(" caf\u00e9 composed"))
    )
    raw = F.concat(F.col("text"), decor)
    nfc = nfc_normalize_pudf()(raw)
    t = docs.select("doc_id", raw.alias("raw"), nfc.alias("nfc"))
    return t.select(
        "doc_id",
        "nfc",
        (F.col("nfc") != F.col("raw")).alias("changed"),
        (F.length("raw") - F.length("nfc")).cast("int").alias("delta_cp"),
    )


_EPOCH_ISO = "1970-01-01T00:00:00+00:00"


def q_extract_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 markdown artifact through the full engine: extraction with
    ``emit_html``/``emit_markdown`` on, plus the sink's filename +
    frontmatter document (reference crawler.py:354-423).  The oracle
    reconstructs every string byte-for-byte from the source text —
    exact-match evidence that the renderers and the sink template are
    deterministic."""
    from .sinks.markdown_sink import markdown_document, markdown_filename

    docs = load(spark, sf_dir, "documents")
    corpus = render_spans_to_html(documents_as_interleaved_corpus(docs))
    result = extract_articles(
        corpus, min_word_count=10, emit_html=True, emit_markdown=True
    )
    return result.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "markdown",
        "content_html",
        markdown_filename(F.col("url")).alias("md_file"),
        markdown_document(
            F.col("url"),
            F.col("title"),
            F.col("markdown"),
            F.col("word_count"),
            _EPOCH_ISO,
        ).alias("md_doc"),
    )


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout extraction end-to-end (the north rule's PDF arm; the
    reference only SKIPS .pdf URLs, discovery.py:825): render each
    document as a real one-page PDF (every 3rd FlateDecode-compressed;
    content stream deliberately out of reading order), then parse it
    back with the from-scratch PDF interpreter — text-matrix tracking,
    CTM-positioned image XObject, layout re-ordering into reading
    order.  Two chained Arrow stages, zero shuffles.  The oracle
    reconstructs the full span JSON analytically (title block, 64-char
    body lines joined with newlines, the Im0 media span, footer) — so
    span-sequence equality vs an independent reconstruction covers the
    writer AND the parser; parser-only coverage against hand-written
    PDF byte fixtures lives in tests/test_pdflayout.py."""
    from .operators.pdf import documents_as_pdf, extract_pdf_articles

    docs = load(spark, sf_dir, "documents")
    out = extract_pdf_articles(documents_as_pdf(docs))
    return out.select(
        "doc_id",
        "n_pages",
        "title",
        "word_count",
        "n_spans",
        F.to_json("spans").alias("spans_json"),
        "success",
    )


def to_server_response(articles: DataFrame) -> DataFrame:
    """readability-js-server wire-model view (reference server.py:399-411
    ExtractionResponse): pure column mapping over the extraction output —
    run ``extract_articles(..., emit_html=True, emit_markdown=True)``
    upstream so ``content``/``markdown`` are populated.

    Field mapping mirrors the reference exactly: byline=author,
    dir='ltr' (hardcoded there too), length=len(content),
    siteName=None (never populated there either).
    """
    return articles.select(
        "url",
        "title",
        F.col("author").alias("byline"),
        F.lit("ltr").alias("dir"),
        F.col("content_html").alias("content"),
        F.length("content_html").alias("length"),
        "excerpt",
        F.lit(None).cast("string").alias("siteName"),
        "markdown",
        "word_count",
        "success",
    )


def q_server_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability-js-server wire view (server.py:399-411): the full
    extraction mapped onto the server's JSON field names — byline/dir/
    content/length/siteName — checked field-by-field by the oracle."""
    docs = load(spark, sf_dir, "documents")
    corpus = render_spans_to_html(documents_as_interleaved_corpus(docs))
    result = extract_articles(
        corpus, min_word_count=10, emit_html=True, emit_markdown=True
    )
    return to_server_response(result)


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect == ANSI subset shared with Spark SQL)
# ---------------------------------------------------------------------------

_STOP_EN = ", ".join(f"'{w}'" for w in X.EN_STOPWORDS)
_STOP_ES = ", ".join(f"'{w}'" for w in X.ES_MARKERS)

# md5-derived 60-bit integer (DuckDB spelling; Spark uses conv()).
_MD5INT = "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"

_NORM = "regexp_replace(lower(trim({c})), '\\s+', ' ', 'g')"
_TOKS = (
    "CASE WHEN trim({c}) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim({c}), '\\s+') END"
)


def _zorder_sql_expr() -> str:
    from .functions.layout import zorder_sql

    return zorder_sql("xu", "yh", bits=10)


def _minhash_sql() -> str:
    mins = []
    for j in range(D.MINHASH_H):
        a, c = D._hash_params(j)
        mins.append(
            f"list_aggregate(list_transform(b, x -> ({a} * x + {c}) % "
            f"{2147483647}), 'min') AS mh{j}"
        )
    band_rows = []
    for bidx in range(D.LSH_BANDS):
        parts = " || ',' || ".join(
            f"CAST(mh{bidx * D.LSH_ROWS + r} AS VARCHAR)"
            for r in range(D.LSH_ROWS)
        )
        band_rows.append(
            f"SELECT doc_id, {bidx} AS band, "
            + _MD5INT.format(expr=parts)
            + " AS band_hash FROM sig"
        )
    banded = " UNION ALL ".join(band_rows)
    norm = _NORM.format(c="text")
    toks = _TOKS.format(c=norm)
    ctes = f"""toks AS (
  SELECT doc_id, {norm} AS t, {toks} AS w FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(w) < 3 THEN [t]
    ELSE list_distinct(list_transform(range(1, len(w) - 1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS shingles
  FROM toks
), bases AS (
  SELECT doc_id,
    list_transform(shingles, s -> {_MD5INT.format(expr='s')} % 2147483647) AS b
  FROM sh
), sig AS (
  SELECT doc_id, {', '.join(mins)} FROM bases
), banded AS (
  {banded}
), mh_capped AS (
  SELECT doc_id, band, band_hash,
    row_number() OVER (PARTITION BY band, band_hash ORDER BY doc_id) AS rn
  FROM banded
), mh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mh_capped a JOIN mh_capped b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  WHERE a.rn <= {D.BUCKET_CAP} AND b.rn <= {D.BUCKET_CAP}
)"""
    return ctes


def _minhash_pairs_sql() -> str:
    return f"WITH {_minhash_sql()}\nSELECT doc_a, doc_b FROM mh_pairs"


def _minhash_verified_sql(threshold: float = 0.2) -> str:
    wordset = f"list_distinct({_TOKS.format(c=_NORM.format(c='text'))})"
    return f"""
WITH {_minhash_sql()}, words AS (
  SELECT doc_id, {wordset} AS wordset FROM documents
), verified AS (
  SELECT p.doc_a, p.doc_b,
    round(CAST(len(list_intersect(wa.wordset, wb.wordset)) AS DOUBLE)
          / len(list_distinct(list_concat(wa.wordset, wb.wordset))),
          6) AS jaccard
  FROM mh_pairs p
  JOIN words wa ON p.doc_a = wa.doc_id
  JOIN words wb ON p.doc_b = wb.doc_id
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold}
"""


def _incremental_dedup_sql(threshold: float = 0.2) -> str:
    wordset = f"list_distinct({_TOKS.format(c=_NORM.format(c='text'))})"
    return f"""
WITH {_minhash_sql()}, idx AS (
  SELECT doc_id, band, band_hash,
    row_number() OVER (
      PARTITION BY band, band_hash ORDER BY doc_id
    ) AS rn
  FROM banded WHERE doc_id % {WAVE_MOD} <> 0
), cand AS (
  SELECT DISTINCT w.doc_id AS new_doc, i.doc_id AS dup_of
  FROM banded w JOIN idx i
    ON w.band = i.band AND w.band_hash = i.band_hash
   AND w.doc_id <> i.doc_id
  WHERE w.doc_id % {WAVE_MOD} = 0 AND i.rn <= {D.BUCKET_CAP}
), words AS (
  SELECT doc_id, {wordset} AS wordset FROM documents
), verified AS (
  SELECT c.new_doc, c.dup_of,
    round(CAST(len(list_intersect(wn.wordset, wo.wordset)) AS DOUBLE)
          / len(list_distinct(list_concat(wn.wordset, wo.wordset))),
          6) AS jaccard
  FROM cand c
  JOIN words wn ON c.new_doc = wn.doc_id
  JOIN words wo ON c.dup_of = wo.doc_id
)
SELECT new_doc, dup_of, jaccard FROM verified WHERE jaccard >= {threshold}
"""


def _simhash_sql() -> str:
    norm = _NORM.format(c="text")
    toks = _TOKS.format(c=norm)
    bit_terms = []
    for i in range(D.SIMHASH_BITS):
        bit_terms.append(
            f"CASE WHEN 2 * len(list_filter(h, x -> (x & {1 << i}) != 0)) "
            f"> len(h) THEN {1 << i} ELSE 0 END"
        )
    total = " + ".join(bit_terms)
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS w FROM documents
), hashed AS (
  SELECT doc_id,
    list_transform(w, t -> {_MD5INT.format(expr='t')} % 65536) AS h
  FROM toks
)
SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM hashed
"""


def _quality_sql() -> str:
    toks = _TOKS.format(c="text")
    return f"""
WITH t AS (
  SELECT doc_id, text, {toks} AS w,
    length(text) AS n,
    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np
  FROM documents
), r AS (
  SELECT doc_id,
    least(n / 2000.0, 1.0) AS length_c,
    least((CASE WHEN len(w) = 0 THEN 0.0
      ELSE CAST(len(list_filter(w, x -> list_contains([{_STOP_EN}], x))) AS DOUBLE)
           / len(w) END) / 0.4, 1.0) AS stop_c,
    least((CASE WHEN n = 0 THEN 0.0 ELSE CAST(np AS DOUBLE) / n END) / 0.05,
          1.0) AS punct_c
  FROM t
)
SELECT doc_id,
  round(0.4 * length_c + 0.3 * stop_c + 0.3 * punct_c, 6) AS quality
FROM r
"""


def _gopher_sql() -> str:
    toks = _TOKS.format(c="text")
    return f"""
WITH t AS (
  SELECT doc_id, text, {toks} AS w, string_split(text, chr(10)) AS ls
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(w) AS INT) AS n_words,
    CASE WHEN len(w) = 0 THEN 0.0
         ELSE round(CAST(length(regexp_replace(text, '\\s', '', 'g'))
                         AS DOUBLE) / len(w), 6) END AS mean_word_length,
    CASE WHEN len(w) = 0 THEN 0.0
         ELSE round(CAST(len(regexp_extract_all(text,
                '{GOPHER_SYMBOL_RE}')) AS DOUBLE) / len(w), 6)
         END AS symbol_ratio,
    round(CAST(len(list_filter(ls, x ->
        regexp_matches(trim(x), '{GOPHER_BULLET_RE}'))) AS DOUBLE)
      / len(ls), 6) AS bullet_frac,
    round(CAST(len(list_filter(ls, x ->
        regexp_matches(trim(x), '{GOPHER_ELLIPSIS_RE}'))) AS DOUBLE)
      / len(ls), 6) AS ellipsis_frac,
    CASE WHEN len(w) = 0 THEN 0.0
         ELSE round(CAST(len(list_filter(w, x ->
                regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(w), 6)
         END AS alpha_frac,
    CAST(len(list_filter([{_STOP_EN}], s -> list_contains(w, s)))
         AS INT) AS n_stopwords
  FROM t
)
SELECT doc_id, n_words, mean_word_length, symbol_ratio, bullet_frac,
  ellipsis_frac, alpha_frac, n_stopwords,
  (n_words >= {GOPHER_MIN_WORDS}
   AND n_words <= {GOPHER_MAX_WORDS}) AS wc_ok,
  (mean_word_length >= {GOPHER_MIN_MWL}
   AND mean_word_length <= {GOPHER_MAX_MWL}) AS mwl_ok,
  (symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS symbol_ok,
  (bullet_frac <= {GOPHER_MAX_BULLET_FRAC}) AS bullet_ok,
  (ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}) AS ellipsis_ok,
  (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS alpha_ok,
  (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS stop_ok,
  (n_words >= {GOPHER_MIN_WORDS}
   AND n_words <= {GOPHER_MAX_WORDS}
   AND mean_word_length >= {GOPHER_MIN_MWL}
   AND mean_word_length <= {GOPHER_MAX_MWL}
   AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
   AND bullet_frac <= {GOPHER_MAX_BULLET_FRAC}
   AND ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}
   AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
   AND n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS keep
FROM m
"""


def _langid_sql() -> str:
    toks = _TOKS.format(c="text")
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS w FROM documents
), c AS (
  SELECT doc_id,
    len(list_filter(w, x -> list_contains([{_STOP_EN}], x))) AS en,
    len(list_filter(w, x -> list_contains([{_STOP_ES}], x))) AS es
  FROM t
)
SELECT doc_id,
  CASE WHEN en = 0 AND es = 0 THEN 'und'
       WHEN en >= es THEN 'en' ELSE 'es' END AS lang_pred
FROM c
"""


_QUANT = (
    "list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000)"
    " AS BIGINT))"
)
_IDOT = (
    "list_aggregate(list_transform(range(1, len({a}) + 1),"
    " i -> {a}[i] * {b}[i]), 'sum')"
)


def _cosine_topk_sql() -> str:
    dot = _IDOT.format(a="e.q", b="e.q2")
    na = _IDOT.format(a="e.q", b="e.q")
    nb = _IDOT.format(a="e.q2", b="e.q2")
    return f"""
WITH qv AS (
  SELECT {_QUANT} AS q2 FROM embeddings WHERE vec_id = 0
), e AS (
  SELECT vec_id, {_QUANT} AS q, qv.q2 AS q2
  FROM embeddings, qv WHERE vec_id != 0
)
SELECT vec_id,
  round(CAST({dot} AS DOUBLE) /
        (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))), 6) AS cosine
FROM e
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def _sq8_ann_sql() -> str:
    """SQ8 compressed-scan ANN replay: same corpus-global code range,
    same floor-division codes, same two-stage (code-cosine top-40 →
    exact-cosine top-10) deterministic cut as similarity.sq8_ann_topk."""
    k = 10
    n_cand = k * S.SQ8_RERANK_FACTOR
    code = (
        "list_transform({q}, v -> CAST(floor(CAST((v - mm.lo) * "
        f"{S.SQ8_LEVELS} AS DOUBLE) / mm.rng) AS BIGINT))"
    )
    cdot = _IDOT.format(a="c", b="c2")
    cna = _IDOT.format(a="c", b="c")
    cnb = _IDOT.format(a="c2", b="c2")
    dot = _IDOT.format(a="q", b="q2")
    na = _IDOT.format(a="q", b="q")
    nb = _IDOT.format(a="q2", b="q2")
    return f"""
WITH base AS (
  SELECT vec_id, {_QUANT} AS q FROM embeddings
), mm AS (
  SELECT min(list_aggregate(q, 'min')) AS lo,
         greatest(max(list_aggregate(q, 'max'))
                  - min(list_aggregate(q, 'min')), 1) AS rng
  FROM base
), qv AS (
  SELECT q AS q2 FROM base WHERE vec_id = 0
), coded AS (
  SELECT b.vec_id, b.q, qv.q2,
         {code.format(q="b.q")} AS c,
         {code.format(q="qv.q2")} AS c2
  FROM base b, qv, mm WHERE b.vec_id != 0
), cand AS (
  SELECT vec_id, q, q2,
    round(CAST({cdot} AS DOUBLE) /
          (sqrt(CAST({cna} AS DOUBLE)) * sqrt(CAST({cnb} AS DOUBLE))),
          6) AS code_cos
  FROM coded
  ORDER BY code_cos DESC, vec_id ASC
  LIMIT {n_cand}
)
SELECT vec_id,
  round(CAST({dot} AS DOUBLE) /
        (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))), 6) AS cosine
FROM cand
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


def _lsh_ann_sql() -> str:
    plane_projs = []
    for j in range(S.N_PLANES):
        proj = (
            "list_aggregate(list_transform(range(1, len(q) + 1), "
            f"i -> q[i] * (((i - 1) * 31 + {j * 17}) % 7 - 3)), 'sum')"
        )
        plane_projs.append(f"CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END")
    bucket = " + ".join(plane_projs)
    dot = _IDOT.format(a="e.q", b="e.q2")
    na = _IDOT.format(a="e.q", b="e.q")
    nb = _IDOT.format(a="e.q2", b="e.q2")
    return f"""
WITH base AS (
  SELECT vec_id, {_QUANT} AS q FROM embeddings
), bucketed AS (
  SELECT vec_id, q, CAST({bucket} AS INT) AS bucket FROM base
), qv AS (
  SELECT q AS q2, bucket AS qbucket FROM bucketed WHERE vec_id = 0
), e AS (
  SELECT b.vec_id, b.q, qv.q2
  FROM bucketed b, qv WHERE b.bucket = qv.qbucket AND b.vec_id != 0
)
SELECT vec_id,
  round(CAST({dot} AS DOUBLE) /
        (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))), 6) AS cosine
FROM e
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def _ivf_ann_sql(nprobe: int = 1, train_iters: int = 0) -> str:
    """IVF probe oracle; with ``train_iters`` > 0, prepends that many
    unrolled Lloyd's-iteration CTEs (the BPE-merges technique) — exact
    because the engine's centroid update is integer floordiv of exact
    bigint sums (similarity.train_ivf_codebook), so assignment (integer
    L2, ties → smallest cid) and update replay bit-for-bit in SQL."""
    sq = (
        "list_aggregate(list_transform(range(1, len({a}) + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    ).format(a="e.qv", b="c.cvec")
    qsq = (
        "list_aggregate(list_transform(range(1, len({a}) + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    ).format(a="q.qvec", b="c.cvec")
    dot = _IDOT.format(a="s.qv", b="s.qvec")
    na = _IDOT.format(a="s.qv", b="s.qv")
    nb = _IDOT.format(a="s.qvec", b="s.qvec")
    train = []
    for t in range(1, train_iters + 1):
        prev = "cents" if t == 1 else f"cb{t - 1}"
        train.append(
            f"""a{t} AS (
  SELECT vec_id, qv, cell FROM (
    SELECT e.vec_id, e.qv, c.cid AS cell,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {sq} ASC, c.cid ASC) AS rn
    FROM base e, {prev} c
  ) WHERE rn = 1
), x{t} AS (
  SELECT cell, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v
  FROM a{t}
), m{t} AS (
  SELECT cell, pos, SUM(v) AS s, COUNT(*) AS n FROM x{t}
  GROUP BY cell, pos
), u{t} AS (
  SELECT cell AS cid,
    list((s - ((s % n) + n) % n) // n ORDER BY pos) AS cvec
  FROM m{t} GROUP BY cell
), cb{t} AS (
  SELECT p.cid, COALESCE(u.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN u{t} u ON p.cid = u.cid
)"""
        )
    cents = "cents" if train_iters == 0 else f"cb{train_iters}"
    train_sql = (", " + ", ".join(train)) if train else ""
    return f"""
WITH base AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), cents AS (
  SELECT vec_id AS cid, qv AS cvec FROM base WHERE vec_id < {S.N_CENTROIDS}
){train_sql}, assigned AS (
  SELECT vec_id, qv, cell FROM (
    SELECT e.vec_id, e.qv, c.cid AS cell,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {sq} ASC, c.cid ASC) AS rn
    FROM base e, {cents} c
  ) WHERE rn = 1
), qvec AS (
  SELECT qv AS qvec FROM base WHERE vec_id = 0
), qcells AS (
  SELECT c.cid AS qcell FROM {cents} c, qvec q
  ORDER BY {qsq} ASC, c.cid ASC LIMIT {nprobe}
), s AS (
  SELECT a.vec_id, a.cell, a.qv, (SELECT qvec FROM qvec) AS qvec
  FROM assigned a JOIN qcells qc ON a.cell = qc.qcell
  WHERE a.vec_id != 0
)
SELECT vec_id, cell,
  round(CAST({dot} AS DOUBLE) /
        (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))), 6) AS cosine
FROM s
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def _pq_ann_sql(iters: int = 2, dim: int = 64) -> str:
    """PQ ADC oracle: unrolled joint-subspace Lloyd's CTEs (the
    _ivf_ann_sql technique keyed by (m, cid)), then encode, LUT, ADC
    sum, and the exact-cosine rerank — every stage integer-exact, so
    it replays the engine bit-for-bit."""
    d = dim // S.PQ_M
    l2 = (
        "list_aggregate(list_transform(range(1, len({a}) + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )
    train = []
    for t in range(1, iters + 1):
        prev = "cents0" if t == 1 else f"cb{t - 1}"
        asg_l2 = l2.format(a="s.sv", b="c.cvec")
        train.append(
            f"""a{t} AS (
  SELECT vec_id, m, sv, cell FROM (
    SELECT s.vec_id, s.m, s.sv, c.cid AS cell,
      row_number() OVER (PARTITION BY s.vec_id, s.m
                         ORDER BY {asg_l2} ASC, c.cid ASC) AS rn
    FROM sub s JOIN {prev} c ON s.m = c.m
  ) WHERE rn = 1
), x{t} AS (
  SELECT m, cell, generate_subscripts(sv, 1) AS pos, unnest(sv) AS v
  FROM a{t}
), mm{t} AS (
  SELECT m, cell, pos, SUM(v) AS s, COUNT(*) AS n FROM x{t}
  GROUP BY m, cell, pos
), u{t} AS (
  SELECT m, cell AS cid,
    list((s - ((s % n) + n) % n) // n ORDER BY pos) AS cvec
  FROM mm{t} GROUP BY m, cell
), cb{t} AS (
  SELECT p.m, p.cid, COALESCE(u.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN u{t} u ON p.m = u.m AND p.cid = u.cid
)"""
        )
    cb = f"cb{iters}"
    final_l2 = l2.format(a="s.sv", b="c.cvec")
    dot = _IDOT.format(a="r.qv", b="r.qq")
    na = _IDOT.format(a="r.qv", b="r.qv")
    nb = _IDOT.format(a="r.qq", b="r.qq")
    return f"""
WITH base AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), sub AS (
  SELECT vec_id, m,
    qv[m * {d} + 1 : (m + 1) * {d}] AS sv
  FROM base, range({S.PQ_M}) r(m)
), cents0 AS (
  SELECT m, vec_id AS cid, sv AS cvec FROM sub WHERE vec_id < {S.PQ_K}
), {", ".join(train)}, af AS (
  SELECT vec_id, m, cell FROM (
    SELECT s.vec_id, s.m, c.cid AS cell,
      row_number() OVER (PARTITION BY s.vec_id, s.m
                         ORDER BY {final_l2} ASC, c.cid ASC) AS rn
    FROM sub s JOIN {cb} c ON s.m = c.m
  ) WHERE rn = 1
), lut AS (
  SELECT c.m, c.cid,
    {_IDOT.format(a="qs.sv", b="c.cvec")} AS w
  FROM {cb} c JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) qs
    ON c.m = qs.m
), scored AS (
  SELECT a.vec_id, CAST(SUM(l.w) AS BIGINT) AS adc_score
  FROM af a JOIN lut l ON a.m = l.m AND a.cell = l.cid
  WHERE a.vec_id != 0
  GROUP BY a.vec_id
), cand AS (
  SELECT vec_id, adc_score FROM scored
  ORDER BY adc_score DESC, vec_id ASC
  LIMIT {10 * S.PQ_RERANK_FACTOR}
), r AS (
  SELECT c.vec_id, c.adc_score, b.qv,
    (SELECT qv FROM base WHERE vec_id = 0) AS qq
  FROM cand c JOIN base b ON c.vec_id = b.vec_id
)
SELECT vec_id, adc_score,
  round(CAST({dot} AS DOUBLE) /
        (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))), 6)
    AS cosine
FROM r
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def _pagerank_sql() -> str:
    """Chained-CTE fixed-point PageRank: one CTE per iteration, the
    same integer ops (// is floor division; all values positive, so it
    matches Spark's truncating DIV bit-for-bit)."""
    n = "(SELECT COUNT(*) FROM documents)"
    iters = []
    for t in range(1, PAGERANK_ITERS + 1):
        iters.append(
            f"""c{t} AS (
  SELECT e.dst AS doc_id, SUM(r.pagerank // 2) AS s
  FROM edges e JOIN r{t - 1} r ON e.src = r.doc_id GROUP BY e.dst
), r{t} AS (
  SELECT d.doc_id,
    CAST({PAGERANK_SCALE * 15} // (100 * {n})
         + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pagerank
  FROM documents d LEFT JOIN c{t} c ON d.doc_id = c.doc_id
)"""
        )
    return f"""
WITH edges AS (
  SELECT doc_id AS src, (doc_id * 2 + 1) % {n} AS dst FROM documents
  UNION ALL
  SELECT doc_id AS src, (doc_id * 3 + 7) % {n} AS dst FROM documents
), r0 AS (
  SELECT doc_id, {PAGERANK_SCALE} // {n} AS pagerank FROM documents
), {', '.join(iters)}
SELECT doc_id, pagerank FROM r{PAGERANK_ITERS}
"""


def _crawl_frontier_sql(max_depth: int) -> str:
    return f"""
WITH RECURSIVE edges AS (
  SELECT doc_id AS src,
    (doc_id * 2 + 1) % (SELECT COUNT(*) FROM documents) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id AS src,
    (doc_id * 3 + 7) % (SELECT COUNT(*) FROM documents) AS dst
  FROM documents
), reach(doc_id, depth) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.doc_id
  WHERE r.depth < {max_depth}
)
SELECT doc_id, CAST(MIN(depth) AS INT) AS depth FROM reach GROUP BY doc_id
"""


_CRAWL_FRONTIER_SQL = _crawl_frontier_sql(3)


def _embedding_neardup_ctes() -> str:
    """CTE block ending in ``scored`` (vec_a, vec_b, cosine) — shared by
    the pair-list oracle and the semantic-dedup recursive oracle."""
    plane_projs = []
    for j in range(S.N_PLANES):
        proj = (
            "list_aggregate(list_transform(range(1, len(q) + 1), "
            f"i -> q[i] * (((i - 1) * 31 + {j * 17}) % 7 - 3)), 'sum')"
        )
        plane_projs.append(f"CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END")
    bucket = " + ".join(plane_projs)
    dot = _IDOT.format(a="p.qa", b="p.qb")
    na = _IDOT.format(a="p.qa", b="p.qa")
    nb = _IDOT.format(a="p.qb", b="p.qb")
    return f"""base AS (
  SELECT vec_id, {_QUANT} AS q FROM embeddings
), bucketed AS (
  SELECT vec_id, q, CAST({bucket} AS INT) AS bucket FROM base
), capped AS (
  SELECT vec_id, q, bucket FROM (
    SELECT vec_id, q, bucket,
      row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
    FROM bucketed
  ) WHERE rn <= {S.NEARDUP_BUCKET_CAP}
), p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.q AS qa, b.q AS qb
  FROM capped a JOIN capped b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), scored AS (
  SELECT vec_a, vec_b,
    round(CAST({dot} AS DOUBLE) /
          (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))), 6)
      AS cosine
  FROM p
)"""


def _embedding_neardup_sql(threshold: float = 0.3) -> str:
    return f"""
WITH {_embedding_neardup_ctes()}
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {threshold}
"""


def _semantic_dedup_sql(threshold: float = 0.3) -> str:
    """True min-reachable components over the near-dup pair graph —
    a non-converged or mis-propagated Spark result cannot hash-match."""
    return f"""
WITH RECURSIVE {_embedding_neardup_ctes()}, nd AS (
  SELECT vec_a, vec_b FROM scored WHERE cosine >= {threshold}
), edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM nd
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM nd
), reach(start, node) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.start, e.dst FROM reach r JOIN edges e ON e.src = r.node
), canon AS (
  SELECT start AS vec_id, MIN(node) AS canonical_id FROM reach GROUP BY start
), sized AS (
  SELECT canonical_id, COUNT(*) AS cluster_size
  FROM canon GROUP BY canonical_id
)
SELECT c.vec_id, c.canonical_id, s.cluster_size,
  c.vec_id = c.canonical_id AS keep
FROM canon c JOIN sized s USING (canonical_id)
"""


def _extract_interleaved_sql() -> str:
    n_closing = len(_CLOSING_P.split())
    toks = _TOKS.format(c="text")
    return f"""
SELECT doc_id,
  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
  CAST(2 + len({toks}) + {n_closing} AS INT) AS word_count,
  1 AS n_media,
  TRUE AS success
FROM documents
"""


# The exact page string documents_as_interleaved_corpus + render build
# (span0 \n <img .../> \n span2) — reconstructed in SQL so extraction-
# adjacent oracles can predict engine outputs analytically.
_SQL_PAGE = """
  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
  || ' - Synth</title></head><body><header class="site-header"><nav>'
  || '<a href="/">Home</a> <a href="/about">About</a></nav></header>'
  || '<main><article class="post-content"><h1>Doc ' || CAST(doc_id AS VARCHAR)
  || '</h1><p>' || text || '</p>' || chr(10)
  || '<img src="https://cdn.example/img-' || CAST(doc_id AS VARCHAR)
  || '.jpg" />' || chr(10)
  || '<p>End of synthetic document body.</p></article></main>'
  || '<footer class="site-footer"><p>Copyright 2026.</p></footer>'
  || '</body></html>'
"""

_TRANSIENT_PREFILTER_SQL = f"""
WITH h AS (
  SELECT doc_id, {_SQL_PAGE} AS html FROM documents
)
SELECT doc_id,
  (length(html) >= 500 AND (
     strpos(html, '<article') > 0 OR strpos(html, '<main') > 0
     OR strpos(html, '</p>') > 0)) AS extractable
FROM h
"""

_EXTRACT_EXCERPT_SQL = """
WITH t AS (
  SELECT doc_id,
    'Doc ' || CAST(doc_id AS VARCHAR) || ' '
      || regexp_replace(trim(text), '\\s+', ' ', 'g')
      || ' End of synthetic document body.' AS ftxt
  FROM documents
), c AS (
  SELECT doc_id, ftxt, substr(ftxt, 1, 200) AS cut FROM t
), p AS (
  SELECT doc_id, ftxt, cut,
    CASE WHEN strpos(reverse(cut), ' ') = 0 THEN 0
         ELSE length(cut) - strpos(reverse(cut), ' ') + 1 END AS lp
  FROM c
)
SELECT doc_id,
  CASE WHEN length(ftxt) <= 200 THEN ftxt
       ELSE rtrim(CASE WHEN lp >= 142 THEN substr(cut, 1, lp - 1)
                       ELSE cut END) || '...' END AS excerpt
FROM p
"""

# Byte-exact reconstructions of the engine's rendered outputs for the
# synthetic interleaved corpus.  Corpus-purity assumption (shared with
# _extract_interleaved_sql): the driver's document text contains no
# HTML-special characters ('<', '>', '&'), so the engine's entity
# escaping is the identity and these concatenations reproduce the
# renderer output exactly.
_WTRIM = (
    "regexp_replace(regexp_replace(text, '^\\s+', ''), '\\s+$', '')"
)

# markdown renderer output (dom/node.py to_markdown): h1 + stripped
# paragraph + image + closing paragraph with the renderer's exact
# newline runs, outer-stripped.
_MD_SQL = (
    "'# Doc ' || CAST(doc_id AS VARCHAR) || repeat(chr(10), 4) || "
    + _WTRIM
    + " || repeat(chr(10), 3) || '![](https://cdn.example/img-'"
    " || CAST(doc_id AS VARCHAR) || '.jpg)'"
    " || repeat(chr(10), 3) || 'End of synthetic document body.'"
)

_CONTENT_HTML_SQL = (
    "'<article class=\"post-content\"><h1>Doc ' || CAST(doc_id AS VARCHAR)"
    " || '</h1><p>' || text || '</p>' || chr(10)"
    " || '<img src=\"https://cdn.example/img-' || CAST(doc_id AS VARCHAR)"
    " || '.jpg\" />' || chr(10)"
    " || '<p>End of synthetic document body.</p></article>'"
)

_WC_SQL = (
    f"CAST(2 + len({_TOKS.format(c='text')})"
    f" + {len(_CLOSING_P.split())} AS INT)"
)

_EXCERPT_EXPR = """
  CASE WHEN length(ftxt) <= 200 THEN ftxt
       ELSE rtrim(CASE WHEN lp >= 142 THEN substr(cut, 1, lp - 1)
                       ELSE cut END) || '...' END
"""

_EXTRACT_MARKDOWN_SQL = f"""
WITH t AS (
  SELECT doc_id, {_MD_SQL} AS markdown,
    {_CONTENT_HTML_SQL} AS content_html, {_WC_SQL} AS wc
  FROM documents
)
SELECT doc_id, markdown, content_html,
  'synth.example__docs__' || CAST(doc_id AS VARCHAR) || '.md' AS md_file,
  '---' || chr(10) || 'url: https://synth.example/docs/'
    || CAST(doc_id AS VARCHAR)
    || chr(10) || 'title: "Doc ' || CAST(doc_id AS VARCHAR) || '"'
    || chr(10) || 'extracted_at: {_EPOCH_ISO}'
    || chr(10) || 'word_count: ' || CAST(wc AS VARCHAR)
    || chr(10) || '---' || chr(10) || chr(10) || markdown AS md_doc
FROM t
"""

# Flagship oracle: byte-exact analytic reconstruction of the engine's
# serialized span output for the synthetic interleaved corpus (same
# technique as _EXTRACT_MARKDOWN_SQL).  Each synthetic doc extracts to
# exactly 3 spans with fully predictable content: span0 = h1 title +
# paragraph text joined with one space (dom_to_spans normalize_text is
# the identity under corpus purity — no entities, no whitespace runs,
# no space-before-punctuation, pinned by
# test_corpus_purity_assumption), span1 = the one <img>, span2 = the
# closing paragraph.  Spark's to_json escapes only '"', '\\' and
# control chars — all absent from the corpus text (also pinned) — so
# string concatenation reproduces the JSON byte-for-byte.  The warning
# arm mirrors pipeline.py's exact message format for word_count <
# min_word_count docs (none exist in the driver corpora, but the arm
# keeps the oracle honest if the corpus changes).
# The PDF writer's fixed-width body reconstruction (64-char lines
# joined with newlines) — shared by the pdf_extract and mixed_extract
# oracles so the chunking rule lives in exactly one SQL expression.
_PDF_BODY_SQL = """array_to_string(list_transform(
      generate_series(0, CAST(ceil(length(text) / 64.0) AS INT) - 1, 1),
      i -> substr(text, i * 64 + 1, 64)), chr(10))"""

_SPAN0_SQL = (
    "'Doc ' || CAST(doc_id AS VARCHAR) || ' '"
    " || regexp_replace(trim(text), '\\s+', ' ', 'g')"
)

_EXTRACT_SPANS_FULL_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SPAN0_SQL} AS span0, {_WC_SQL} AS wc FROM documents
)
SELECT doc_id,
  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
  wc AS word_count,
  3 AS n_spans,
  '[{{"kind":"text","text":"' || span0
    || '","media_ref":"","offset":0}},'
    || '{{"kind":"media","text":"","media_ref":"https://cdn.example/img-'
    || CAST(doc_id AS VARCHAR) || '.jpg","offset":1}},'
    || '{{"kind":"text","text":"End of synthetic document body.",'
    || '"media_ref":"","offset":2}}]' AS spans_json,
  CASE WHEN wc < 10
       THEN '["Content below minimum word count ('
            || CAST(wc AS VARCHAR) || ' < 10)"]'
       ELSE '[]' END AS warnings_json,
  TRUE AS success
FROM t
"""

_SERVER_RESPONSE_SQL = f"""
WITH t AS (
  SELECT doc_id,
    'https://synth.example/docs/' || CAST(doc_id AS VARCHAR) AS url,
    'Doc ' || CAST(doc_id AS VARCHAR) AS title,
    {_CONTENT_HTML_SQL} AS content,
    {_MD_SQL} AS markdown,
    {_WC_SQL} AS word_count,
    'Doc ' || CAST(doc_id AS VARCHAR) || ' '
      || regexp_replace(trim(text), '\\s+', ' ', 'g')
      || ' End of synthetic document body.' AS ftxt
  FROM documents
), c AS (
  SELECT *, substr(ftxt, 1, 200) AS cut FROM t
), p AS (
  SELECT *,
    CASE WHEN strpos(reverse(cut), ' ') = 0 THEN 0
         ELSE length(cut) - strpos(reverse(cut), ' ') + 1 END AS lp
  FROM c
)
SELECT url, title, CAST(NULL AS VARCHAR) AS byline, 'ltr' AS "dir",
  content, CAST(length(content) AS INT) AS "length",
  {_EXCERPT_EXPR} AS excerpt,
  CAST(NULL AS VARCHAR) AS "siteName",
  markdown, word_count, TRUE AS success
FROM p
"""

ORACLE_SQL: dict[str, str] = {
    "extract_markdown": _EXTRACT_MARKDOWN_SQL,
    "server_response": _SERVER_RESPONSE_SQL,
    "lineage_rollup": f"""
SELECT source, CAST(doc_id % 4 AS INT) AS bucket,
  COUNT(*) AS n_docs,
  CAST(SUM(len({_TOKS.format(c='text')})) AS BIGINT) AS total_tokens
FROM documents
GROUP BY ROLLUP(source, CAST(doc_id % 4 AS INT))
""",
    "sitemap_locs": """
SELECT source, COUNT(*) AS n_urls,
  MIN('https://' || source || '.example.com/docs/'
      || CAST(doc_id AS VARCHAR)) AS first_loc
FROM documents GROUP BY source
""",
    # Only sources reachable through the sitemapindex (even-numbered)
    # plus the directly-seeded src1 urlset may appear — the membership
    # IS the recursion evidence.
    "sitemap_index_locs": """
SELECT source, COUNT(*) AS n_urls,
  MIN('https://' || source || '.example.com/docs/'
      || CAST(doc_id AS VARCHAR)) AS first_loc
FROM documents
WHERE CAST(substr(source, 4) AS INT) % 2 = 0 OR source = 'src1'
GROUP BY source
""",
    # True recursive-CTE replay of the 4-level tree resolution: the
    # edge relation mirrors _sitemap_tree (root → mid-0 only; mid-0 →
    # sub-0/sub-2; mid-1 → sub-1 orphaned; sub-g → its sources'
    # urlsets), reach() walks it from the root + the directly-seeded
    # src1 urlset to whatever depth the edges go.
    "sitemap_tree_locs": f"""
WITH RECURSIVE srcs AS (
  SELECT DISTINCT source, CAST(substr(source, 4) AS INT) AS sn
  FROM documents
), edges(parent, child) AS (
  SELECT '{SITEMAP_ROOT}', 'https://hub.example.com/mid-0.xml'
  UNION ALL SELECT 'https://hub.example.com/mid-0.xml',
                   'https://hub.example.com/sub-0.xml'
  UNION ALL SELECT 'https://hub.example.com/mid-0.xml',
                   'https://hub.example.com/sub-2.xml'
  UNION ALL SELECT 'https://hub.example.com/mid-1.xml',
                   'https://hub.example.com/sub-1.xml'
  UNION ALL
  SELECT 'https://hub.example.com/sub-' || CAST(sn % 3 AS VARCHAR)
         || '.xml',
         'https://' || source || '.example.com/sitemap.xml'
  FROM srcs
), reach(url) AS (
  SELECT url FROM (VALUES ('{SITEMAP_ROOT}'),
                          ('{SITEMAP_SEED_URLSET}')) t(url)
  UNION
  SELECT e.child FROM reach r JOIN edges e ON e.parent = r.url
)
SELECT source, COUNT(*) AS n_urls,
  MIN('https://' || source || '.example.com/docs/'
      || CAST(doc_id AS VARCHAR)) AS first_loc
FROM documents
WHERE 'https://' || source || '.example.com/sitemap.xml'
      IN (SELECT url FROM reach)
GROUP BY source
""",
    "rate_limit_schedule": f"""
WITH t AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) - 1 AS rn
  FROM events
), b AS (
  SELECT *, ts_us - rn * {RATE_LIMIT_DELAY_US} AS base FROM t
)
SELECT user_id, event_id,
  CAST(max(base) OVER (PARTITION BY user_id ORDER BY rn
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       + rn * {RATE_LIMIT_DELAY_US} - ts_us AS BIGINT) AS wait_us
FROM b
""",
    # Sequential replay as a recursive CTE stepping one event per host
    # per iteration.  The arithmetic (multiplier composition, clamps,
    # ×0.9 decay) is written in the same IEEE-double op order as the
    # applyInPandas replay, so floor(µs) matches bit-exactly.
    "rate_limit_adaptive": """
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, epoch_us(ts) >> 12 AS ts_us,
    CASE WHEN event_id % 10 = 0 THEN 429 ELSE 200 END AS status,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) >> 12, event_id) AS rn
  FROM events
), replay(user_id, rn, event_id, status, delay, c429, csucc,
          last429_us) AS (
  SELECT DISTINCT user_id, 0, CAST(NULL AS BIGINT), CAST(NULL AS INT),
    CAST(2.0 AS DOUBLE), 0, 0, CAST(NULL AS BIGINT)
  FROM ev
  UNION ALL
  SELECT e.user_id, e.rn, e.event_id, e.status,
    CASE WHEN e.status = 429 THEN
      least(120.0, r.delay *
        ((CASE WHEN r.last429_us IS NULL THEN 1.25
               WHEN e.ts_us - r.last429_us < 30000000 THEN 2.0
               WHEN e.ts_us - r.last429_us < 60000000 THEN 1.5
               ELSE 1.25 END)
         * (CASE WHEN r.c429 + 1 >= 3 THEN 1.5 ELSE 1.0 END)))
    WHEN r.csucc + 1 >= 10 THEN greatest(0.5, r.delay * 0.9)
    ELSE r.delay END,
    CASE WHEN e.status = 429 THEN r.c429 + 1 ELSE 0 END,
    CASE WHEN e.status = 429 THEN 0
         WHEN r.csucc + 1 >= 10 THEN 0 ELSE r.csucc + 1 END,
    CASE WHEN e.status = 429 THEN e.ts_us ELSE r.last429_us END
  FROM replay r
  JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, event_id, status,
  CAST(floor(delay * 1000000) AS BIGINT) AS delay_us
FROM replay WHERE rn >= 1
""",
    "transient_prefilter": _TRANSIENT_PREFILTER_SQL,
    "extract_excerpt": _EXTRACT_EXCERPT_SQL,
    "histogram_quantiles": f"""
WITH b AS (
  SELECT source,
    (len({_TOKS.format(c='text')}) // {HIST_BIN_WIDTH})::BIGINT AS bin,
    COUNT(*) AS c
  FROM documents GROUP BY source, bin
), cum AS (
  SELECT source, bin,
    SUM(c) OVER (PARTITION BY source ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum,
    SUM(c) OVER (PARTITION BY source) AS n
  FROM b
)
SELECT source,
  MIN(CASE WHEN cum * 2 >= n * 1
      THEN bin * {HIST_BIN_WIDTH} + {HIST_BIN_WIDTH // 2} END) AS p50,
  MIN(CASE WHEN cum * 10 >= n * 9
      THEN bin * {HIST_BIN_WIDTH} + {HIST_BIN_WIDTH // 2} END) AS p90,
  MIN(CASE WHEN cum * 100 >= n * 99
      THEN bin * {HIST_BIN_WIDTH} + {HIST_BIN_WIDTH // 2} END) AS p99
FROM cum GROUP BY source
""",
    "windowed_event_rates": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  user_id, COUNT(*) AS n_events
FROM events GROUP BY 1, 2
""",
    "url_normalize": """
WITH u AS (
  SELECT doc_id,
    'HTTPS://WWW.' || upper(source) || '.Example.COM/Docs/'
      || CAST(doc_id AS VARCHAR) || '/index.html?utm=x#Section-2' AS raw_url
  FROM documents
), nf AS (
  SELECT doc_id, raw_url, regexp_replace(raw_url, '#.*$', '') AS no_frag
  FROM u
)
SELECT doc_id, raw_url,
  lower(regexp_extract(no_frag, '^([^/]+//[^/]+)', 1))
    || regexp_replace(no_frag, '^[^/]+//[^/]+', '') AS norm_url
FROM nf
""",
    "url_normalize_rich": """
WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0
           THEN 'HTTPS://Host-' || CAST(doc_id AS VARCHAR) || '.Example.COM'
         WHEN doc_id % 4 = 1
           THEN 'http://h.example.com/a/' || CAST(doc_id AS VARCHAR)
                || '?x=1#frag'
         WHEN doc_id % 4 = 2
           THEN 'ftp://files.example.com/' || CAST(doc_id AS VARCHAR)
         ELSE 'mailto:user-' || CAST(doc_id AS VARCHAR) || '@example.com'
    END AS raw_url
  FROM documents
), nf AS (
  SELECT doc_id, raw_url,
    regexp_replace(raw_url, '#.*$', '') AS no_frag
  FROM u
), p AS (
  SELECT doc_id, raw_url, no_frag,
    lower(regexp_extract(no_frag, '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
      AS scheme,
    regexp_extract(no_frag, '^[A-Za-z0-9+.-]+://([^/?#]*)', 1) AS netloc,
    regexp_extract(no_frag, '^[A-Za-z0-9+.-]+://[^/?#]*([^?#]*)', 1)
      AS rawpath
  FROM nf
)
SELECT doc_id, raw_url,
  CASE WHEN scheme IN ('http', 'https')
       THEN scheme || '://' || netloc
            || CASE WHEN rawpath = '' THEN '/' ELSE rawpath END
       ELSE NULL END AS norm_url
FROM p
""",
    "extension_filter": f"""
WITH u AS (
  SELECT ([{', '.join(repr(e) for e in _EXT_CYCLE)}])
           [(doc_id % {len(_EXT_CYCLE)}) + 1] AS ext,
    source, doc_id
  FROM documents
), p AS (
  SELECT ext,
    lower('/p/' || CAST(doc_id AS VARCHAR) || ext) AS path
  FROM u
), v AS (
  SELECT ext,
    NOT (regexp_extract(path, '(\\.[a-z0-9]+)$', 1)
         IN ({', '.join(repr(e) for e in NON_HTML_EXTENSIONS)})) AS keep
  FROM p
)
SELECT ext, keep, COUNT(*) AS n_urls FROM v GROUP BY ext, keep
""",
    "link_extraction": """
SELECT '/' AS href, COUNT(*) AS n_refs FROM documents
UNION ALL
SELECT '/about' AS href, COUNT(*) AS n_refs FROM documents
""",
    "url_hashes": """
SELECT doc_id,
  substr(sha256('https://' || source || '.example.com/docs/'
                || CAST(doc_id AS VARCHAR)), 1, 16) AS url_hash
FROM documents
""",
    "doc_slugs": """
SELECT doc_id,
  source || '.example.com__docs-' || CAST(doc_id AS VARCHAR) || '-'
    || regexp_replace(lower(substr(trim(text), 1, 24)), '[^a-z0-9]+', '-', 'g')
    AS slug
FROM documents
""",
    "token_counts": f"""
SELECT doc_id,
  CAST(len({_TOKS.format(c='text')}) AS INT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text,
       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens
FROM documents
""",
    "quality_scores": _quality_sql(),
    "gopher_filter": _gopher_sql(),
    # Morton interleave spelled out bit-by-bit (layout.zorder_sql emits
    # the identical expression the Spark Column tree builds)
    "zorder_layout": f"""
WITH b AS (
  SELECT {_MD5INT.format(expr="CAST(user_id AS VARCHAR)")} & 1023 AS xu,
    least(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts)
          // 3600, 1023) AS yh
  FROM events
), z AS (
  SELECT xu, yh, {_zorder_sql_expr()} >> 12 AS file_id FROM b
)
SELECT file_id, COUNT(*) AS n_rows,
  MIN(xu) AS min_ubucket, MAX(xu) AS max_ubucket,
  MIN(yh) AS min_hour, MAX(yh) AS max_hour
FROM z GROUP BY file_id
""",
    # raw-table recomputation of what the probe reads from the pruned
    # partitions — identical values prove the layout loses no rows
    "zorder_pruned_scan": f"""
WITH b AS (
  SELECT {_MD5INT.format(expr="CAST(user_id AS VARCHAR)")} & 1023 AS xu,
    least(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts)
          // 3600, 1023) AS yh
  FROM events
)
SELECT (yh // 64) AS yblock, COUNT(*) AS n_events
FROM b WHERE xu = ({_MD5INT.format(expr="'7'")} & 1023)
GROUP BY yh // 64
""",
    "compaction_plan": """
WITH files AS (
  SELECT source, doc_id % 8 AS bucket, SUM(n_chars)::BIGINT AS bytes
  FROM documents GROUP BY source, doc_id % 8
), r AS (
  SELECT source, bucket, bytes,
    SUM(bytes) OVER (ORDER BY bytes DESC, source ASC, bucket ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS running
  FROM files
)
SELECT source, bucket, bytes,
  ((running - bytes) // 32768)::BIGINT AS out_group
FROM r
""",
    # deterministic HLL: register index = h & (m-1), rank = 53 -
    # length(bin(h >> 8)) (bin drops leading zeros on both engines),
    # harmonic sum scaled to exact integers; the single double
    # division uses the repr-interpolated constant from sketches.py
    "distinct_shingles": f"""
WITH toks AS (
  SELECT source, {_NORM.format(c='text')} AS t,
    {_TOKS.format(c=_NORM.format(c='text'))} AS w
  FROM documents
), sh AS (
  SELECT source,
    CASE WHEN len(w) < 3 THEN [t]
    ELSE list_distinct(list_transform(range(1, len(w) - 1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS shingles
  FROM toks
), items AS (
  SELECT source, unnest(shingles) AS s FROM sh
), hashed AS (
  SELECT source, {_MD5INT.format(expr='s')} AS h FROM items
), regs AS (
  SELECT source, h & {K.HLL_M - 1} AS reg,
    MAX(CASE WHEN (h >> {K.HLL_BITS}) = 0 THEN {K._RHO_CAP}
        ELSE {K._RHO_CAP} - length(bin(h >> {K.HLL_BITS})) END) AS r
  FROM hashed GROUP BY source, h & {K.HLL_M - 1}
), agg AS (
  SELECT source, COUNT(*) AS n_present,
    SUM(1::BIGINT << ({K._RHO_CAP} - r))::BIGINT AS sum_present
  FROM regs GROUP BY source
)
SELECT source, {K.HLL_M} AS m,
  CAST({K.HLL_M} - n_present AS BIGINT) AS zero_registers,
  (sum_present
   + ({K.HLL_M} - n_present) * (1::BIGINT << {K._RHO_CAP}))::BIGINT
    AS sum_scaled,
  CASE WHEN ({K.HLL_M} - n_present) > 0
        AND {K.HLL_EST_NUM!r} /
            (sum_present
             + ({K.HLL_M} - n_present) * (1::BIGINT << {K._RHO_CAP}))
            <= {K.HLL_SMALL_RANGE!r}
       THEN ([{', '.join(repr(v) for v in K.HLL_LINEAR)}])
            [({K.HLL_M} - n_present) + 1]
       ELSE round({K.HLL_EST_NUM!r} /
        (sum_present
         + ({K.HLL_M} - n_present) * (1::BIGINT << {K._RHO_CAP})), 6)
       END AS est_distinct
FROM agg
""",
    "corpus_percentiles": f"""
WITH t AS (
  SELECT source, len({_TOKS.format(c='text')}) AS n_toks, n_chars
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
  round(avg(n_chars), 6) AS mean_chars,
  round(quantile_cont(n_toks, 0.5), 6) AS tok_p50,
  round(quantile_cont(n_toks, 0.9), 6) AS tok_p90,
  round(quantile_cont(n_toks, 0.99), 6) AS tok_p99,
  round(quantile_cont(n_chars, 0.5), 6) AS chars_p50,
  round(quantile_cont(n_chars, 0.9), 6) AS chars_p90,
  round(quantile_cont(n_chars, 0.99), 6) AS chars_p99
FROM t GROUP BY source
""",
    "langid": _langid_sql(),
    "repetition_scores": f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(c='text')} AS w,
    string_split_regex(trim(text), '\\s+') AS raww
  FROM documents
), e AS (
  SELECT doc_id, unnest(w) AS word FROM t
), c AS (
  SELECT doc_id, word, count(*) AS n FROM e GROUP BY 1, 2
), m AS (
  SELECT doc_id, max(n) AS top_n FROM c GROUP BY 1
), bg AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
  FROM t, UNNEST(CASE WHEN len(w) >= 2
                      THEN generate_series(1, len(w) - 1)
                      ELSE []::BIGINT[] END) AS u(i)
), bc AS (
  SELECT doc_id, g, count(*) AS n FROM bg GROUP BY 1, 2
), bm AS (
  SELECT doc_id, max(n) AS top_bn FROM bc GROUP BY 1
), ln AS (
  SELECT doc_id,
    CAST(ceil(len(raww) / 3.0) AS BIGINT) AS n_lines,
    len(list_distinct(list_transform(
      range(1, CAST(ceil(len(raww) / 3.0) AS BIGINT) + 1),
      j -> array_to_string(raww[(j - 1) * 3 + 1 : (j - 1) * 3 + 3], ' ')
    ))) AS n_distinct_lines
  FROM t
)
SELECT t.doc_id,
  CASE WHEN len(w) = 0 THEN 0.0
       ELSE round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
  END AS ttr,
  CASE WHEN len(w) = 0 THEN 0.0
       ELSE round(CAST(m.top_n AS DOUBLE) / len(w), 6)
  END AS top_word_frac,
  CASE WHEN len(w) < 2 THEN 0.0
       ELSE round(CAST(bm.top_bn AS DOUBLE) / (len(w) - 1), 6)
  END AS top_bigram_frac,
  CASE WHEN ln.n_lines <= 0 THEN 0.0
       ELSE round(CAST(ln.n_lines - ln.n_distinct_lines AS DOUBLE)
                  / ln.n_lines, 6)
  END AS dup_line_frac
FROM t
LEFT JOIN m ON t.doc_id = m.doc_id
LEFT JOIN bm ON t.doc_id = bm.doc_id
LEFT JOIN ln ON t.doc_id = ln.doc_id
""",
    "dup_ngram_stats": f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(c='text')} AS w FROM documents
), g AS (
  SELECT doc_id, array_to_string(w[i:i+{DUP_NGRAM_N - 1}], ' ') AS gram
  FROM t, UNNEST(CASE WHEN len(w) >= {DUP_NGRAM_N}
                      THEN generate_series(1, len(w) - {DUP_NGRAM_N - 1})
                      ELSE []::BIGINT[] END) AS u(i)
), c AS (
  SELECT gram, count(*) AS cnt FROM g GROUP BY 1
)
SELECT doc_id, count(*) AS n_grams,
  round(CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 6) AS dup_gram_frac
FROM g JOIN c USING (gram) GROUP BY 1
""",
    # Same construction + SAME regex patterns through DuckDB's engine:
    # match semantics are cross-checked, not just the counts.
    "pii_scrub": f"""
WITH t AS (
  SELECT doc_id,
    text || CASE WHEN doc_id % 5 = 0
      THEN ' Contact user' || CAST(doc_id AS VARCHAR)
           || '@example.org or call 555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
      ELSE '' END AS text2
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text2, '{PII_EMAIL_RE}')) AS INT)
    AS n_emails,
  CAST(len(regexp_extract_all(text2, '{PII_PHONE_RE}')) AS INT)
    AS n_phones,
  md5(regexp_replace(
        regexp_replace(text2, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
        '{PII_PHONE_RE}', '<PHONE>', 'g')) AS clean_digest
FROM t
""",
    "split_assign": f"""
SELECT doc_id, source,
  CAST({_MD5INT.format(expr="'split:' || CAST(doc_id AS VARCHAR)")}
       % {SPLIT_BUCKETS} AS INT) AS bucket,
  CASE WHEN {_MD5INT.format(expr="'split:' || CAST(doc_id AS VARCHAR)")}
            % {SPLIT_BUCKETS} < {SPLIT_TRAIN_LT} THEN 'train'
       WHEN {_MD5INT.format(expr="'split:' || CAST(doc_id AS VARCHAR)")}
            % {SPLIT_BUCKETS} < {SPLIT_VAL_LT} THEN 'val'
       ELSE 'test' END AS split
FROM documents
""",
    "stratified_sample": f"""
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN {_MD5INT.format(
      expr='CAST(doc_id AS VARCHAR)')} % {SAMPLE_MOD} = 0
           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents GROUP BY source
""",
    # priority is pure IEEE multiply/divide on identical operands, so
    # the doubles are bit-identical across engines — no rounding
    "priority_sample": f"""
WITH scored AS (
  SELECT doc_id,
    CAST(LEAST(GREATEST(len({_TOKS.format(c='text')}), 1), 256) AS INT)
      AS weight,
    (CAST(LEAST(GREATEST(len({_TOKS.format(c='text')}), 1), 256)
          AS DOUBLE) * 1152921504606846976.0)
      / CAST({_MD5INT.format(
          expr="'psample:' || CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
      AS priority
  FROM documents
),
topk1 AS (
  SELECT * FROM scored ORDER BY priority DESC, doc_id ASC
  LIMIT {PRIORITY_SAMPLE_K + 1}
),
tau AS (SELECT MIN(priority) AS tau FROM topk1)
SELECT doc_id, weight, priority,
       GREATEST(CAST(weight AS DOUBLE), tau) AS est_weight
FROM (SELECT * FROM topk1 ORDER BY priority DESC, doc_id ASC
      LIMIT {PRIORITY_SAMPLE_K}), tau
""",
    "domain_quota": f"""
WITH ranked AS (
  SELECT source, doc_id,
    {_MD5INT.format(expr='CAST(doc_id AS VARCHAR)')} AS priority,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY {_MD5INT.format(expr='CAST(doc_id AS VARCHAR)')}, doc_id
    ) AS rn
  FROM documents
)
SELECT source, doc_id, priority FROM ranked WHERE rn <= {DOMAIN_CAP}
""",
    # Single-node flat aggregation — the two-phase distributed vocab
    # build must reproduce it exactly (the per-(token, doc) pre-fold
    # is algebraically invisible).
    "vocab_topk": f"""
WITH tok AS (
  SELECT doc_id,
    unnest({_TOKS.format(c='lower(text)')}) AS token
  FROM documents
), per_doc AS (
  SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY token, doc_id
)
SELECT token, CAST(SUM(tf) AS BIGINT) AS term_freq,
  COUNT(*) AS doc_freq
FROM per_doc GROUP BY token
ORDER BY term_freq DESC, token ASC LIMIT {VOCAB_TOP_K}
""",
    # Single-node per-source global window — ground truth for the
    # (source, bucket) two-phase prefix-sum decomposition.
    "source_mixture": f"""
WITH t AS (
  SELECT doc_id, source,
    CAST(len({_TOKS.format(c='text')}) AS INT) AS n_tokens,
    {_MD5INT.format(expr='CAST(doc_id AS VARCHAR)')} AS priority
  FROM documents
), totals AS (
  SELECT source, SUM(n_tokens) AS tot FROM t GROUP BY source
), budget AS (
  SELECT MIN(tot) AS budget FROM totals
), c AS (
  SELECT doc_id, source, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY priority, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before
  FROM t
)
SELECT c.doc_id, c.source, c.n_tokens, c.cum_before,
  c.cum_before + c.n_tokens <= b.budget AS kept
FROM c, budget b
""",
    # Same IEEE-754 expression tree as the Spark query: idf via ln (the
    # same libm the driver's math.log calls), constants interpolated by
    # repr, score rounded to 6 places before the order/limit.
    "bm25_topk": f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(c='lower(text)')} AS toks FROM documents
), d AS (
  SELECT doc_id, CAST(len(toks) AS INT) AS dl,
    {', '.join(
        f"CAST(len(list_filter(toks, x -> x = {t!r})) AS INT) AS tf{i}"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )}
  FROM t
), s AS (
  SELECT COUNT(*) AS n, SUM(dl) AS total_dl,
    {', '.join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )}
  FROM d
), scored AS (
  SELECT doc_id,
    round({' + '.join(
        f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)"
        f" * (tf{i} * {BM25_K1 + 1.0!r})"
        f" / (tf{i} + {BM25_K1!r} * ({1.0 - BM25_B!r}"
        f" + {BM25_B!r} * dl / (CAST(s.total_dl AS DOUBLE) / s.n)))"
        for i in range(len(BM25_QUERY_TERMS))
    )}, 6) AS bm25
  FROM d, s
)
SELECT doc_id, bm25 FROM scored WHERE bm25 > 0.0
ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOP_K}
""",
    "chunk_windows": f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(c='text')} AS toks FROM documents
), nn AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), c AS (
  SELECT doc_id, toks, n,
    unnest(range(0, CASE WHEN n <= {CHUNK_TOKENS} THEN 1
      ELSE 1 + (n - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
      END)) AS chunk_id
  FROM nn
), s AS (
  SELECT doc_id, chunk_id,
    list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
               chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS chunk
  FROM c
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
  CAST(chunk_id * {CHUNK_STRIDE} AS INT) AS start_token,
  CAST(len(chunk) AS INT) AS n_chunk_tokens,
  array_to_string(chunk, ' ') AS chunk_text
FROM s
""",
    # The sketch only nominates candidates; the exact recount + the
    # count·(k+1) > N filter make the result partitioning-independent,
    # so the oracle is the plain exact heavy-hitter definition.
    "heavy_hitters": f"""
WITH t AS (
  SELECT {_TOKS.format(c='lower(text)')} AS toks FROM documents
), e AS (
  SELECT unnest(toks) AS token FROM t
)
SELECT token, COUNT(*) AS n_occurrences FROM e
GROUP BY token
HAVING COUNT(*) * {HH_K + 1} > (SELECT COUNT(*) FROM e)
""",
    # Integer-quantized idf (round(ln(N/df)*scale)) makes dots/norms
    # exact int sums; ln here and driver-side math.log agree (glibc —
    # the bm25_topk cross-engine pattern).
    "tfidf_cosine_pairs": f"""
WITH base AS (
  SELECT doc_id, {_NORM.format(c='text')} AS t,
    {_TOKS.format(c=_NORM.format(c='text'))} AS w
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(w) < 3 THEN [t]
    ELSE list_distinct(list_transform(range(1, len(w) - 1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS shingles
  FROM base
), per AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), dfs AS (
  SELECT s, COUNT(*) AS df FROM per GROUP BY s
  HAVING COUNT(*) BETWEEN {TFIDF_MIN_DF} AND {TFIDF_MAX_DF}
), w AS (
  SELECT per.doc_id, per.s,
    CAST(round(ln((SELECT COUNT(*) FROM documents) / df)
               * {TFIDF_IDF_SCALE}) AS BIGINT) AS idf_q
  FROM per JOIN dfs USING (s)
), norms AS (
  SELECT doc_id, SUM(idf_q * idf_q) AS norm2 FROM w GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    SUM(a.idf_q * b.idf_q) AS dot
  FROM w a JOIN w b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc_a, doc_b,
    round(dot / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)),
          6) AS cosine
  FROM pairs
  JOIN norms na ON na.doc_id = doc_a
  JOIN norms nb ON nb.doc_id = doc_b
)
SELECT doc_a, doc_b, cosine FROM scored WHERE cosine >= {TFIDF_MIN_COSINE}
""",
    # Single-node global-window prefix sum — the ground truth the
    # distributed two-phase scan must reproduce exactly.
    "sequence_pack": f"""
WITH t AS (
  SELECT doc_id,
    CAST(len({_TOKS.format(c='text')}) AS INT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS start_token
  FROM t
)
SELECT doc_id, n_tokens, start_token,
  start_token // {PACK_CHUNK_TOKENS} AS first_chunk,
  (start_token + n_tokens - 1) // {PACK_CHUNK_TOKENS} AS last_chunk,
  (start_token // {PACK_CHUNK_TOKENS})
    != ((start_token + n_tokens - 1) // {PACK_CHUNK_TOKENS})
    AS spans_boundary
FROM c
""",
    "fingerprints": f"""
SELECT doc_id,
  {_MD5INT.format(expr=_NORM.format(c='text'))} AS fingerprint
FROM documents
""",
    "exact_dedup": f"""
SELECT md5({_NORM.format(c='text')}) AS content_key,
  MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
""",
    # Keep-first-occurrence line dedup: rn=1 over (doc_id, pos) order
    # is exactly the engine's min(struct(doc_id, pos)) per line key.
    "line_dedup": f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), la AS (
  SELECT doc_id,
    [array_to_string(toks[(i*{D.LINE_TOKENS}+1):(i*{D.LINE_TOKENS}+{D.LINE_TOKENS})], ' ')
     FOR i IN range(CAST(ceil(len(toks)/{D.LINE_TOKENS}.0) AS INT))] AS ls
  FROM t
), lines AS (
  SELECT doc_id, CAST(generate_subscripts(ls, 1) - 1 AS INT) AS pos,
    unnest(ls) AS line
  FROM la
), ranked AS (
  SELECT doc_id, pos, line,
    row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
  FROM lines
)
SELECT doc_id, COUNT(*) AS n_lines,
  COUNT(*) FILTER (rn = 1) AS n_kept,
  COALESCE(string_agg(line, ' ' ORDER BY pos) FILTER (rn = 1), '')
    AS dedup_text
FROM ranked GROUP BY doc_id
""",
    # ExactSubstr (Lee et al. 2022), keep-first: rn=1 over (doc_id, s)
    # per window key is the engine's min(struct(doc_id, s)); token p is
    # cut iff a non-first duplicated window [s, s+W) covers it.
    "exact_substring_dedup": f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
         ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
), win AS (
  SELECT doc_id, i AS s,
    md5(array_to_string(w[(i+1):(i+{EXSUB_W})], ' ')) AS win_key
  FROM t, UNNEST(CASE WHEN len(w) >= {EXSUB_W}
                      THEN generate_series(0, len(w) - {EXSUB_W})
                      ELSE [] END) AS u(i)
), marked AS (
  SELECT doc_id, s,
    count(*) OVER (PARTITION BY win_key) AS cnt,
    row_number() OVER (PARTITION BY win_key ORDER BY doc_id, s) AS rn
  FROM win
), dup AS (
  SELECT doc_id, s FROM marked WHERE cnt > 1 AND rn > 1
), tok AS (
  SELECT doc_id, CAST(p - 1 AS INT) AS p, w[CAST(p AS INT)] AS tk
  FROM t, UNNEST(generate_series(1, len(w))) AS u(p)
), keep AS (
  SELECT tok.doc_id, tok.p, tok.tk
  FROM tok
  WHERE NOT EXISTS (
    SELECT 1 FROM dup
    WHERE dup.doc_id = tok.doc_id
      AND tok.p >= dup.s AND tok.p < dup.s + {EXSUB_W})
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    string_agg(tk, ' ' ORDER BY p) AS kept_text
  FROM keep GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(len(t.w) AS INT) AS n_tokens,
  CAST(len(t.w) - COALESCE(agg.n_kept, 0) AS INT) AS n_removed,
  COALESCE(agg.kept_text, '') AS kept_text
FROM t LEFT JOIN agg USING (doc_id)
""",
    "minhash_pairs": _minhash_pairs_sql(),
    "minhash_verified_pairs": _minhash_verified_sql(),
    "incremental_dedup": _incremental_dedup_sql(),
    # True connected components of the LSH pair graph via recursive
    # min-reachable labels — an engine that stops propagating before
    # the fixpoint cannot hash-match this.
    "dedup_clusters": f"""
WITH RECURSIVE {_minhash_sql()}, edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh_pairs
), reach(start, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.start, e.dst FROM reach r JOIN edges e ON e.src = r.node
), canon AS (
  SELECT start AS doc_id, MIN(node) AS canonical_id
  FROM reach GROUP BY start
), sized AS (
  SELECT canonical_id, COUNT(*) AS cluster_size
  FROM canon GROUP BY canonical_id
)
SELECT c.doc_id, c.canonical_id, s.cluster_size
FROM canon c JOIN sized s USING (canonical_id)
""",
    "embedding_neardup": _embedding_neardup_sql(),
    "semantic_dedup": _semantic_dedup_sql(),
    "simhash": _simhash_sql(),
    "decontaminate": f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(c=_NORM.format(c='text'))} AS w
  FROM documents
), g AS (
  SELECT doc_id, array_to_string(w[i:i+{DECONTAM_N - 1}], ' ') AS gram
  FROM t, UNNEST(CASE WHEN len(w) >= {DECONTAM_N}
                      THEN generate_series(1, len(w) - {DECONTAM_N - 1})
                      ELSE []::BIGINT[] END) AS u(i)
), b AS (
  SELECT DISTINCT gram FROM g WHERE doc_id < {DECONTAM_BENCH_IDS}
)
SELECT doc_id, count(*) AS n_contaminated_grams
FROM g JOIN b USING (gram)
WHERE doc_id >= {DECONTAM_BENCH_IDS}
GROUP BY 1
""",
    "simhash_pairs": f"""
WITH simall AS ({_simhash_sql()}
), sim AS (
  -- mirror the engine: NULL-text docs never enter banding (their
  -- simhash would be the all-zero value and they would pair freely)
  SELECT s.* FROM simall s
  JOIN documents d ON s.doc_id = d.doc_id
  WHERE d.text IS NOT NULL
), banded AS (
  SELECT s.doc_id, s.simhash, b.band,
    CASE b.band
      {" ".join(
          f"WHEN {bi} THEN (s.simhash >> {sh}) & {(1 << w) - 1}"
          for bi, (sh, w) in enumerate(D.SIMHASH_BAND_LAYOUT)
      )}
    END AS band_val
  FROM sim s,
    (VALUES {", ".join(f"({bi})" for bi in range(len(D.SIMHASH_BAND_LAYOUT)))})
      AS b(band)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY band, band_val
                               ORDER BY doc_id) AS rn
  FROM banded
), capped AS (
  SELECT * FROM ranked WHERE rn <= {D.BUCKET_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.simhash AS sa, b.simhash AS sb
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {D.SIMHASH_MAX_HAMMING}
""",
    "jaccard_pairs": f"""
WITH w AS (
  SELECT doc_id,
    list_distinct({_TOKS.format(c=_NORM.format(c='text'))}) AS wordset
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  round(CAST(len(list_intersect(a.wordset, b.wordset)) AS DOUBLE)
        / len(list_distinct(list_concat(a.wordset, b.wordset))), 6) AS jaccard
FROM w a JOIN w b ON a.doc_id + 1 = b.doc_id
""",
    "cosine_topk": _cosine_topk_sql(),
    "sq8_ann_topk": _sq8_ann_sql(),
    "sq8_ann_topk_stored": _sq8_ann_sql(),
    "lsh_ann_topk": _lsh_ann_sql(),
    "lsh_ann_topk_pruned": _lsh_ann_sql(),
    "ivf_ann_topk": _ivf_ann_sql(),
    "ivf_ann_topk_pruned": _ivf_ann_sql(),
    "ivf_ann_topk_nprobe": _ivf_ann_sql(nprobe=2),
    # the trained variant replays 2 Lloyd's iterations as unrolled
    # CTEs — exact because training is integer-only (similarity.py)
    "ivf_ann_topk_trained": _ivf_ann_sql(train_iters=2),
    "pq_ann_topk": _pq_ann_sql(iters=2),
    # stored probe is bit-equal to the inline chain by construction
    # (same write-time training determinism, same encode/ADC/rerank)
    "pq_ann_topk_stored": _pq_ann_sql(iters=2),
    "crawl_frontier": _CRAWL_FRONTIER_SQL,
    "crawl_frontier_deep": _crawl_frontier_sql(8),
    # independent algorithm: the oracle walks chains ONE hop at a time
    # (linear recursion), the engine resolves them by pointer doubling
    "redirect_resolution": f"""
WITH RECURSIVE walk AS (
  SELECT doc_id AS src, doc_id AS cur, 0 AS hops FROM documents
  UNION ALL
  SELECT src, cur - 1, hops + 1 FROM walk WHERE cur % {REDIRECT_SPAN} <> 0
)
SELECT src AS doc_id, cur AS canonical_id, CAST(hops AS INTEGER) AS hops
FROM walk WHERE cur % {REDIRECT_SPAN} = 0
""",
    "link_pagerank": _pagerank_sql(),
    "media_features": """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
  md5(text) AS digest,
  CAST(1 + octet_length(encode(text)) % 640 AS INT) AS width,
  CAST(1 + (octet_length(encode(text)) * 7) % 480 AS INT) AS height
FROM documents
""",
    "frame_samples": """
WITH t AS (
  SELECT doc_id, text,
    CAST(floor(octet_length(encode(text)) / 32) AS INT) AS n_frames
  FROM documents
)
SELECT doc_id, CAST(i AS INT) AS frame_idx, n_frames,
  md5(substr(text, i * 32 + 1, 32)) AS frame_digest
FROM t, UNNEST(generate_series(0, n_frames - 1, 3)) AS u(i)
WHERE n_frames > 0
""",
    # Analytic reconstruction of the WAV round-trip (ASCII purity:
    # sample k is byte k of the text, every sample value is its
    # ASCII code, all < 128, so |code - 128| = 128 - code).
    "audio_features": """
WITH t AS (
  SELECT doc_id, text,
    CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
), loud AS (
  SELECT t.doc_id,
    CAST(sum(128 - ascii(substr(t.text, CAST(i AS INT), 1))) AS BIGINT)
      AS absum
  FROM t, UNNEST(generate_series(1, CAST(t.n AS INT))) AS u(i)
  WHERE t.n > 0
  GROUP BY t.doc_id
)
SELECT t.doc_id,
  8000 AS sample_rate, 1 AS channels, 8 AS bits,
  t.n AS n_samples,
  CAST(t.n * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST(CASE WHEN t.n > 0 THEN COALESCE(l.absum, 0) * 1000 // t.n
       ELSE 0 END AS BIGINT) AS loud_milli,
  md5(t.text) AS digest
FROM t LEFT JOIN loud l ON t.doc_id = l.doc_id
""",
    "extract_interleaved": _extract_interleaved_sql(),
    # Analytic prediction of the engine's span sequence (corpus-purity
    # regime, as extract_spans_full) + the same neighbor/truncation
    # rule: cap_before = last 120 chars of the preceding text span,
    # cap_after = first 120 of the following one.
    "caption_pairs": f"""
WITH t AS (
  SELECT doc_id, {_SPAN0_SQL} AS span0 FROM documents
)
SELECT doc_id,
  'https://cdn.example/img-' || CAST(doc_id AS VARCHAR) || '.jpg'
    AS media_ref,
  right(span0, 120) AS cap_before,
  left('End of synthetic document body.', 120) AS cap_after
FROM t
""",
    "extract_spans_full": _EXTRACT_SPANS_FULL_SQL,
    # Analytic reconstruction of the PDF round-trip (same technique as
    # the flagship oracle): title block, fixed-width body lines joined
    # with newlines (JSON-escaped to the literal two chars '\' 'n'),
    # the Im0 image span, footer — in READING order, which the content
    # stream deliberately violates.
    "pdf_extract": f"""
WITH t AS (
  SELECT doc_id, text, {_PDF_BODY_SQL} AS body
  FROM documents
), w AS (
  SELECT doc_id, body,
    len(list_filter(string_split_regex(body, '\\s+'), x -> x != ''))
      AS body_tokens
  FROM t
)
SELECT doc_id, 1 AS n_pages,
  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
  CAST(2 + body_tokens + 5 AS INT) AS word_count,
  4 AS n_spans,
  '[{{"kind":"text","text":"Doc ' || CAST(doc_id AS VARCHAR)
    || '","media_ref":"","offset":0}},'
    || '{{"kind":"text","text":"' || replace(body, chr(10), '\\n')
    || '","media_ref":"","offset":1}},'
    || '{{"kind":"media","text":"","media_ref":"Im0","offset":2}},'
    || '{{"kind":"text","text":"Page 1 of doc ' || CAST(doc_id AS VARCHAR)
    || '","media_ref":"","offset":3}}]' AS spans_json,
  TRUE AS success
FROM w
""",
    # Both dispatch branches predicted analytically: even docs are the
    # PDF shape (4 spans, fixed-width body token count), odd docs the
    # HTML page shape (3 spans, whitespace token count).
    "mixed_extract": f"""
WITH t AS (
  SELECT doc_id, text, {_PDF_BODY_SQL} AS body,
    len({_TOKS.format(c='text')}) AS html_tokens
  FROM documents
), w AS (
  SELECT doc_id, html_tokens,
    len(list_filter(string_split_regex(body, '\\s+'), x -> x != ''))
      AS pdf_tokens
  FROM t
)
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS format,
  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 + pdf_tokens + 5
            ELSE 2 + html_tokens + 5 END AS INT) AS word_count,
  CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS n_spans,
  TRUE AS success
FROM w
""",
    # The full ingest chain: mixed predictions minus the planted 404s
    # (every 10th doc) that the status gate must drop.
    "warc_extract": f"""
WITH t AS (
  SELECT doc_id, text, {_PDF_BODY_SQL} AS body,
    len({_TOKS.format(c='text')}) AS html_tokens
  FROM documents
  WHERE doc_id % 10 != 0
), w AS (
  SELECT doc_id, html_tokens,
    len(list_filter(string_split_regex(body, '\\s+'), x -> x != ''))
      AS pdf_tokens
  FROM t
)
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS format,
  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 + pdf_tokens + 5
            ELSE 2 + html_tokens + 5 END AS INT) AS word_count,
  CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS n_spans,
  TRUE AS success
FROM w
""",
    # Every WARC record field predicted from the generation scheme:
    # records are framed per source in doc_id order, every 10th doc a
    # 404, body == the document text bytes.
    "warc_ingest": """
SELECT source,
  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
       AS INT) AS record_idx,
  'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
    AS uri,
  CAST(CASE WHEN doc_id % 10 = 0 THEN 404 ELSE 200 END AS INT)
    AS http_status,
  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
  md5(text) AS digest,
  TRUE AS ok
FROM documents
""",
    # Analytic prediction of the RFC 9309 verdicts from the rule
    # scheme: source srcK disallows path prefix /docs/K but re-allows
    # the longer /docs/K(K%10); everything else (and the decoy
    # other-bot group) must not affect the verdict.
    "robots_eval": """
WITH t AS (
  SELECT doc_id, source,
    '/docs/' || CAST(doc_id AS VARCHAR) AS path,
    substr(source, 4) AS k
  FROM documents
)
SELECT doc_id, source,
  (NOT starts_with(path, '/docs/' || k))
  OR starts_with(path,
       '/docs/' || k || CAST(CAST(k AS INT) % 10 AS VARCHAR)) AS allowed
FROM t
""",
}

# Composite filter verdicts assembled from the SAME per-metric SQL the
# individual metric oracles are green on — only the rule composition
# is new surface here.
ORACLE_SQL["quality_filter"] = f"""
WITH q AS ({_quality_sql()}), l AS ({_langid_sql()}),
r AS ({ORACLE_SQL["repetition_scores"]}),
t AS ({ORACLE_SQL["token_counts"]})
SELECT doc_id, reason, reason = 'ok' AS keep FROM (
  SELECT q.doc_id,
    CASE WHEN l.lang_pred != 'en' THEN 'non_english'
         WHEN t.n_ws_tokens < {QF_MIN_TOKENS} THEN 'too_short'
         WHEN q.quality < {QF_MIN_QUALITY} THEN 'low_quality'
         WHEN r.ttr < {QF_MIN_TTR} THEN 'low_diversity'
         WHEN r.top_word_frac > {QF_MAX_TOP_WORD} THEN 'repetitive'
         ELSE 'ok' END AS reason
  FROM q
  JOIN l ON q.doc_id = l.doc_id
  JOIN r ON q.doc_id = r.doc_id
  JOIN t ON q.doc_id = t.doc_id
)
"""

# Lexical quality scorer: the weak labels are the quality_filter SQL
# verbatim; training (token-class document frequencies, capped vocab)
# and scoring (distinct-token weight sum) replayed relationally.
# Integer weights ⇒ bit-exact across engines.
ORACLE_SQL["quality_lexical"] = f"""
WITH labels AS ({ORACLE_SQL["quality_filter"]}),
base AS (
  SELECT d.doc_id,
    list_distinct({_TOKS.format(c='lower(d.text)')}) AS toks,
    l.keep
  FROM documents d JOIN labels l ON d.doc_id = l.doc_id
),
totals AS (
  SELECT CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_drop
  FROM base
),
tok AS (SELECT doc_id, unnest(toks) AS token, keep FROM base),
counts AS (
  SELECT token,
    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS df_keep,
    CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS df_drop
  FROM tok GROUP BY token
),
weights AS (
  SELECT token,
    df_keep * (SELECT n_drop FROM totals)
      - df_drop * (SELECT n_keep FROM totals) AS w
  FROM counts
  ORDER BY df_keep + df_drop DESC, token
  LIMIT {QSCORE_VOCAB}
),
scores AS (
  SELECT t.doc_id, CAST(COALESCE(SUM(w.w), 0) AS BIGINT) AS score
  FROM tok t LEFT JOIN weights w ON t.token = w.token
  GROUP BY t.doc_id
),
cal AS (
  SELECT CAST(SUM(COALESCE(s.score, 0)) AS BIGINT) AS tot,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base b LEFT JOIN scores s ON b.doc_id = s.doc_id
)
SELECT b.doc_id, CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
  CAST(COALESCE(s.score, 0) AS BIGINT) * (SELECT n FROM cal)
    > (SELECT tot FROM cal) AS pred_keep,
  b.keep AS label_keep
FROM base b LEFT JOIN scores s ON b.doc_id = s.doc_id
"""

# DSIR importance weights: hashed-unigram counts, integer floor(1e6·ln)
# weights (libm-identical across engines), order-independent int sums.
ORACLE_SQL["dsir_weights"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS.format(c='lower(text)')} AS toks,
    lang = '{DSIR_TARGET_LANG}' AS is_target
  FROM documents
),
tok AS (
  SELECT doc_id, is_target,
    ({_MD5INT.format(expr='t')} % {DSIR_BUCKETS}) AS bucket
  FROM (SELECT doc_id, is_target, unnest(toks) AS t FROM base)
),
cnt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS q_cnt,
    CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt
  FROM tok GROUP BY bucket
),
tot AS (
  SELECT SUM(p_cnt) + {DSIR_BUCKETS} AS tp,
         SUM(q_cnt) + {DSIR_BUCKETS} AS tq
  FROM cnt
),
w AS (
  SELECT br.b AS bucket,
    CAST(FLOOR(1e6 * (
      ln(COALESCE(c.p_cnt, 0) + 1) - ln(t.tp)
      - ln(COALESCE(c.q_cnt, 0) + 1) + ln(t.tq)
    )) AS BIGINT) AS wgt
  FROM (SELECT range AS b FROM range({DSIR_BUCKETS})) br
  LEFT JOIN cnt c ON br.b = c.bucket
  CROSS JOIN tot t
),
sc AS (
  SELECT t.doc_id, CAST(SUM(w.wgt) AS BIGINT) AS iw
  FROM tok t JOIN w ON t.bucket = w.bucket
  GROUP BY t.doc_id
),
cal AS (
  SELECT CAST(SUM(COALESCE(s.iw, 0)) AS BIGINT) AS tot,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base b LEFT JOIN sc s ON b.doc_id = s.doc_id
)
SELECT b.doc_id, CAST(COALESCE(s.iw, 0) AS BIGINT) AS iw,
  CAST(COALESCE(s.iw, 0) AS BIGINT) * (SELECT n FROM cal)
    > (SELECT tot FROM cal) AS selected
FROM base b LEFT JOIN sc s ON b.doc_id = s.doc_id
"""

def _bpe_sql() -> str:
    """Unrolled-CTE BPE training oracle: one (p_k, b_k, w_{k+1}) block
    per merge iteration over the same space-padded symbol-string
    encoding the engine uses (`` a  b  c ``), so DuckDB's ``replace``
    performs the identical greedy left-to-right merge."""
    toks = _TOKS.format(c="lower(text)")
    ctes = [
        f"""w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS syms
  FROM (SELECT unnest({toks}) AS w FROM documents)
  GROUP BY w
)"""
    ]
    for k in range(BPE_MERGES):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(l)),
      i -> ' ' || l[i] || '  ' || l[i+1] || ' ')) AS pair
    FROM (SELECT freq, string_split(trim(syms), '  ') AS l FROM w{k})
  ) GROUP BY pair
), b{k} AS MATERIALIZED (
  SELECT {k} AS merge_rank,
    split_part(trim(pair), '  ', 1) AS lhs,
    split_part(trim(pair), '  ', 2) AS rhs,
    cnt AS pair_freq, pair
  FROM p{k} ORDER BY cnt DESC, pair ASC LIMIT 1
), w{k + 1} AS MATERIALIZED (
  SELECT w, freq, replace(syms, (SELECT pair FROM b{k}),
    ' ' || (SELECT lhs || rhs FROM b{k}) || ' ') AS syms
  FROM w{k}
)"""
        )
    return ",\n".join(ctes)


def _bpe_merges_sql() -> str:
    unions = " UNION ALL ".join(
        f"SELECT merge_rank, lhs, rhs, pair_freq FROM b{k}"
        for k in range(BPE_MERGES)
    )
    return "WITH " + _bpe_sql() + "\n" + unions


def _bpe_subword_counts_sql() -> str:
    """Per-document token count under the TRAINED tokenizer: the fully
    merged vocabulary w{K} gives each word's subword count; summing it
    over the document's tokens replays the engine's broadcast-map fold."""
    toks = _TOKS.format(c="lower(text)")
    return f"""WITH {_bpe_sql()},
vocab AS MATERIALIZED (
  SELECT w, CAST(len(string_split(trim(syms), '  ')) AS BIGINT) AS n_sub
  FROM w{BPE_MERGES}
),
tok AS (
  SELECT doc_id, unnest({toks}) AS t FROM documents
),
sums AS (
  SELECT tok.doc_id, CAST(SUM(v.n_sub) AS BIGINT) AS n_subwords
  FROM tok JOIN vocab v ON tok.t = v.w
  GROUP BY tok.doc_id
)
SELECT d.doc_id, CAST(COALESCE(s.n_subwords, 0) AS BIGINT) AS n_subwords
FROM documents d LEFT JOIN sums s ON d.doc_id = s.doc_id"""


def _packed_examples_sql() -> str:
    """Single-node replay of the packed-example assembly: the same
    merged vocabulary, per-word subword sequences, global concat
    offsets via plain windows (the oracle NEEDS no decomposition), and
    ordered id aggregation per chunk."""
    toks = _TOKS.format(c="lower(text)")
    return f"""WITH {_bpe_sql()},
vocab AS MATERIALIZED (
  SELECT w, string_split(trim(syms), '  ') AS subs FROM w{BPE_MERGES}
),
subv AS (
  SELECT sub, row_number() OVER (ORDER BY sub) AS tid
  FROM (SELECT DISTINCT unnest(subs) AS sub FROM vocab)
),
tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS wpos,
    unnest(toks) AS w
  FROM (SELECT doc_id, {toks} AS toks FROM documents)
),
jw AS (
  SELECT t.doc_id, t.wpos, v.subs, len(v.subs) AS ns
  FROM tok t JOIN vocab v ON t.w = v.w
),
offs AS (
  SELECT doc_id, wpos, subs,
    COALESCE(SUM(ns) OVER (PARTITION BY doc_id ORDER BY wpos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS word_off
  FROM jw
),
dt AS (
  SELECT doc_id, SUM(ns)::BIGINT AS n FROM jw GROUP BY doc_id
),
ds AS (
  SELECT doc_id, COALESCE(SUM(n) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM dt
),
ex AS (
  SELECT (s.start + o.word_off
          + generate_subscripts(o.subs, 1) - 1) AS gpos,
    unnest(o.subs) AS sub
  FROM offs o JOIN ds s ON o.doc_id = s.doc_id
)
SELECT (gpos // {PACK_CHUNK_TOKENS})::BIGINT AS chunk_id,
  COUNT(*)::BIGINT AS n_tokens,
  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY gpos) AS ids
FROM ex JOIN subv USING (sub)
GROUP BY gpos // {PACK_CHUNK_TOKENS}"""


ORACLE_SQL["bpe_merges"] = _bpe_merges_sql()
ORACLE_SQL["bpe_subword_counts"] = _bpe_subword_counts_sql()
ORACLE_SQL["packed_examples"] = _packed_examples_sql()

# Anchor-text aggregation: same synthetic edge graph as PageRank; top
# anchor = (max count, lexicographically smallest) — the oracle spells
# the tie-break as a window, the engine as a partial-aggregable
# min(struct(-cnt, anchor)).
# Discovery prioritization: per-(host, pattern) Laplace yield priors
# from fetch history, broadcast onto the pending frontier, top-k by
# (prior desc, url) — deterministic because urls are unique.
_DISC_SECTIONS_SQL = (
    "[" + ", ".join(f"'{s}'" for s in DISCOVERY_SECTIONS) + "]"
)
ORACLE_SQL["discovery_priorities"] = f"""
WITH priors AS (
  SELECT source AS host,
    {_DISC_SECTIONS_SQL}[CAST(doc_id % {len(DISCOVERY_SECTIONS)} AS INT) + 1]
      AS pattern,
    COUNT(*) AS fetched,
    CAST(SUM(CASE WHEN n_chars >= {DISCOVERY_MIN_CHARS} THEN 1 ELSE 0 END)
      AS BIGINT) AS successes
  FROM documents GROUP BY 1, 2
),
frontier AS (
  SELECT source AS host,
    {_DISC_SECTIONS_SQL}[
      CAST((doc_id * 3 + 1) % {len(DISCOVERY_SECTIONS)} AS INT) + 1]
      AS pattern,
    'https://' || source || '.example.com/' ||
      {_DISC_SECTIONS_SQL}[
        CAST((doc_id * 3 + 1) % {len(DISCOVERY_SECTIONS)} AS INT) + 1] ||
      '/' || CAST(doc_id + {DISCOVERY_NEXT_OFFSET} AS VARCHAR) AS url
  FROM documents
)
SELECT f.url, f.host, f.pattern, p.fetched, p.successes,
  (p.successes + 1.0) / (p.fetched + 2.0) AS prior
FROM frontier f JOIN priors p USING (host, pattern)
ORDER BY prior DESC, f.url LIMIT {DISCOVERY_TOPK}
"""

# Markdown-variant URL conversion: the reference's decision table
# (discovery.py:748-785) replayed in SQL over the same synthesized
# URL shapes.  Early-return arms keep the raw URL verbatim; converted
# arms rebuild scheme://netloc + md_path (query + fragment dropped).
ORACLE_SQL["markdown_variant_urls"] = """
WITH t AS (
  SELECT doc_id, (doc_id % 13 = 0) AS is_seed,
    CASE CAST(doc_id % 8 AS INT)
      WHEN 0 THEN 'https://' || source || '.example.com/#top'
      WHEN 1 THEN 'https://' || source || '.example.com/news/item-'
        || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://' || source || '.example.com/docs/page-'
        || CAST(doc_id AS VARCHAR) || '.html?ref=rss'
      WHEN 3 THEN 'https://' || source || '.example.com/docs/page-'
        || CAST(doc_id AS VARCHAR) || '.HTM'
      WHEN 4 THEN 'https://' || source || '.example.com/files/report-'
        || CAST(doc_id AS VARCHAR) || '.pdf?dl=1'
      WHEN 5 THEN 'https://' || source || '.example.com/guide/intro-'
        || CAST(doc_id AS VARCHAR) || '.md#s2'
      WHEN 6 THEN 'https://' || source || '.example.com/a/b-'
        || CAST(doc_id AS VARCHAR) || '///'
      ELSE 'https://' || source || '.example.com/c.v2/d-'
        || CAST(doc_id AS VARCHAR)
    END AS url
  FROM documents
),
p AS (
  SELECT doc_id, is_seed, url,
    regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
    regexp_extract(url, '^[a-z]+://([^/?#]*)', 1) AS netloc,
    regexp_replace(
      CASE WHEN regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1) = ''
           THEN '/'
           ELSE regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1) END,
      '/+$', '') AS trimmed
  FROM t
),
r AS (
  SELECT *,
    contains(string_split(trimmed, '/')[-1], '.') AS has_dot,
    lower(regexp_extract(string_split(trimmed, '/')[-1],
                         '\\.([^.]*)$', 1)) AS ext
  FROM p
),
s AS (
  SELECT *,
    CASE WHEN ends_with(trimmed, '.md') THEN trimmed
         WHEN NOT has_dot THEN trimmed || '.md'
         ELSE substr(trimmed, 1, len(trimmed) - len(ext) - 1) || '.md'
    END AS md_path
  FROM r
),
f AS (
  SELECT doc_id, is_seed, url,
    CASE WHEN is_seed OR trimmed = ''
              OR (has_dot AND NOT ends_with(trimmed, '.md')
                  AND ext NOT IN ('html', 'htm'))
         THEN url
         ELSE scheme || '://' || netloc || md_path END AS md_url
  FROM s
)
SELECT doc_id, is_seed, url, md_url, (md_url != url) AS changed FROM f
"""

_FT_UNI = _MD5INT.format(expr="t") + f" % {FT_BUCKETS}"
_FT_BI = _MD5INT.format(expr="toks[i] || '_' || toks[i+1]") + f" % {FT_BUCKETS}"
_FT_W = (
    _MD5INT.format(expr="'w' || CAST(b AS VARCHAR)")
    + f" % {FT_WEIGHT_MOD} - 1000"
)
# fastText-shape classifier inference: hashed unigram+bigram features,
# closed-form integer weights — order-independent integer sums, exact
# across engines.
ORACLE_SQL["fasttext_quality"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS.format(c='lower(text)')} AS toks FROM documents
),
feat AS (
  SELECT doc_id,
    list_concat(
      list_transform(toks, t -> {_FT_UNI}),
      list_transform(range(1, len(toks)), i -> {_FT_BI})
    ) AS feats
  FROM base
),
sc AS (
  SELECT doc_id, CAST(len(feats) AS INT) AS n_feats,
    CAST(COALESCE(list_aggregate(
      list_transform(feats, b -> {_FT_W}), 'sum'), 0) AS BIGINT) AS score
  FROM feat
)
SELECT doc_id, n_feats, score, (score >= 0) AS keep FROM sc
"""

# NFC normalization: DuckDB's utf8proc nfc_normalize is an independent
# implementation of the same Unicode algorithm as CPython's
# unicodedata — cross-library agreement is the correctness claim.
ORACLE_SQL["nfc_normalize"] = """
WITH t AS (
  SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN ' café plain'
    WHEN 1 THEN ' mañana'
    WHEN 2 THEN ' Ångström'
    ELSE ' café composed' END AS raw
  FROM documents
)
SELECT doc_id, nfc_normalize(raw) AS nfc,
  (nfc_normalize(raw) != raw) AS changed,
  CAST(len(raw) - len(nfc_normalize(raw)) AS INT) AS delta_cp
FROM t
"""

# Analytic prediction of page_metadata under the corpus builder's
# presence rules (documents_as_metadata_corpus): every field is a
# deterministic string function of doc_id/text, NULL exactly when the
# builder omits (or corrupts) the carrying tag.
ORACLE_SQL["page_metadata"] = """
SELECT doc_id,
  'Doc ' || CAST(doc_id AS VARCHAR) AS og_title,
  CASE WHEN doc_id % 5 = 0 THEN NULL
       ELSE substr(text, 1, 80) END AS og_description,
  CASE WHEN doc_id % 7 = 0 THEN NULL
       ELSE 'https://cdn.example/img-' || CAST(doc_id AS VARCHAR)
            || '.jpg' END AS og_image,
  'https://synth.example/docs/' || CAST(doc_id AS VARCHAR)
    AS canonical_url,
  CASE WHEN doc_id % 2 = 0
       THEN '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
            || 'T12:00:00Z'
       ELSE NULL END AS published_time,
  CASE WHEN doc_id % 3 = 0 OR doc_id % 11 = 0 THEN NULL
       ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || ' - Synth'
       END AS headline,
  CASE WHEN doc_id % 3 = 0 OR doc_id % 11 = 0 THEN NULL
       ELSE 'Author ' || CAST(doc_id % 7 AS VARCHAR) END AS author
FROM documents
"""

ORACLE_SQL["anchor_texts"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS.format(c='lower(text)')} AS toks FROM documents
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
edges AS (
  SELECT toks, unnest([
    (doc_id * 2 + 1) % (SELECT n FROM nn),
    (doc_id * 3 + 7) % (SELECT n FROM nn)
  ]) AS dst
  FROM base
),
anch AS (
  SELECT dst,
    COALESCE(toks[CAST(1 + (dst % 7) AS INT)], 'link') AS anchor
  FROM edges
),
pa AS (
  SELECT dst, anchor, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM anch GROUP BY dst, anchor
),
agg AS (
  SELECT dst, CAST(SUM(cnt) AS BIGINT) AS n_inlinks,
    CAST(COUNT(*) AS BIGINT) AS n_distinct_anchors
  FROM pa GROUP BY dst
),
top AS (
  SELECT dst, anchor AS top_anchor FROM (
    SELECT dst, anchor,
      row_number() OVER (
        PARTITION BY dst ORDER BY cnt DESC, anchor ASC
      ) AS rn
    FROM pa
  ) WHERE rn = 1
)
SELECT 'https://synth.example/docs/' || CAST(a.dst AS VARCHAR) AS url,
  a.n_inlinks, a.n_distinct_anchors, t.top_anchor
FROM agg a JOIN top t ON a.dst = t.dst
"""

# CCNet perplexity filter: hashed-bigram LM weights replayed in SQL —
# same floor(1e6·ln) integer device as dsir_weights.
ORACLE_SQL["ccnet_perplexity"] = f"""
WITH base AS (
  SELECT doc_id, lang, {_TOKS.format(c='lower(text)')} AS w FROM documents
),
bg AS (
  SELECT doc_id, lang,
    ({_MD5INT.format(expr='w[i]')} % {PPLX_U_BUCKETS}) AS b1,
    ({_MD5INT.format(expr="w[i] || ' ' || w[i + 1]")} % {PPLX_B_BUCKETS})
      AS b2
  FROM base, UNNEST(CASE WHEN len(w) >= 2
                         THEN generate_series(1, len(w) - 1)
                         ELSE []::BIGINT[] END) AS u(i)
),
c2 AS (
  SELECT b2, CAST(COUNT(*) AS BIGINT) AS c FROM bg
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b2
),
c1 AS (
  SELECT b1, CAST(COUNT(*) AS BIGINT) AS c FROM bg
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b1
),
w2 AS (
  SELECT br.j AS b2,
    CAST(FLOOR(1e6 * ln(COALESCE(c.c, 0) + 1)) AS BIGINT) AS wgt
  FROM (SELECT range AS j FROM range({PPLX_B_BUCKETS})) br
  LEFT JOIN c2 c ON br.j = c.b2
),
w1 AS (
  SELECT br.i AS b1,
    CAST(FLOOR(1e6 * ln(COALESCE(c.c, 0) + {PPLX_B_BUCKETS})) AS BIGINT)
      AS wgt
  FROM (SELECT range AS i FROM range({PPLX_U_BUCKETS})) br
  LEFT JOIN c1 c ON br.i = c.b1
),
s AS (
  SELECT bg.doc_id, CAST(SUM(w1.wgt - w2.wgt) AS BIGINT) AS nll,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM bg JOIN w2 ON bg.b2 = w2.b2 JOIN w1 ON bg.b1 = w1.b1
  GROUP BY bg.doc_id
),
tot AS (
  SELECT CAST(SUM(nll) AS BIGINT) AS nll, CAST(SUM(n) AS BIGINT) AS n
  FROM s
)
SELECT b.doc_id,
  CASE WHEN COALESCE(s.n, 0) <= 0 THEN 0.0
       ELSE ((2 * s.nll + s.n) // (2 * s.n)) / 1e6 END AS xent,
  CASE WHEN COALESCE(s.n, 0) <= 0 THEN 'short'
       WHEN s.nll * ((SELECT n FROM tot) * 1000)
            <= ((SELECT nll FROM tot) * {PPLX_HEAD_PM}) * s.n THEN 'head'
       WHEN s.nll * ((SELECT n FROM tot) * 1000)
            > ((SELECT nll FROM tot) * {PPLX_TAIL_PM}) * s.n THEN 'tail'
       ELSE 'middle' END AS bucket
FROM base b LEFT JOIN s ON b.doc_id = s.doc_id
"""

_BLOCK_TERMS_SQL = ", ".join(f"'{t}'" for t in BLOCK_TERMS)
_BLOCK_HOSTS_SQL = ", ".join(f"('{h}')" for h in BLOCK_HOSTS)

ORACLE_SQL["blocklist_filter"] = f"""
WITH hosts(blocked_host_key) AS (VALUES {_BLOCK_HOSTS_SQL}),
base AS (
  SELECT doc_id, {_TOKS.format(c='lower(text)')} AS toks,
    source || '.example.com' AS host
  FROM documents
)
SELECT b.doc_id,
  list_has_any(b.toks, [{_BLOCK_TERMS_SQL}]) AS blocked_term,
  h.blocked_host_key IS NOT NULL AS blocked_host,
  NOT list_has_any(b.toks, [{_BLOCK_TERMS_SQL}])
    AND h.blocked_host_key IS NULL AS keep
FROM base b LEFT JOIN hosts h ON b.host = h.blocked_host_key
"""

# The curation funnel oracle composes the COMPONENT oracle texts as
# CTEs (nested WITHs are legal subquery bodies in DuckDB), so the
# funnel can only diverge from the engine if the mix-decision
# composition itself drifts — every attribute is the already-green SQL.
ORACLE_SQL["training_order"] = f"""
SELECT doc_id,
  CAST(row_number() OVER (
    ORDER BY md5({TRAIN_SHUFFLE_SEED!r} || CAST(doc_id AS VARCHAR)), doc_id
  ) - 1 AS BIGINT) AS train_pos
FROM documents
"""

# pipeline.shuffled_pack / materialize_chunks: the oracle is the
# single-node global window over the same md5 shuffle key (the
# training_order/sequence_pack protocol); the chunks oracle re-derives
# every example per-token with zipped unnests, so agreement pins the
# slice arithmetic (bounds, order keys, short final chunk) exactly.
_PIPE_PACK_CTE = f"""
t AS (
  SELECT doc_id,
    CAST(len({_TOKS.format(c='text')}) AS INT) AS n_tokens,
    {_TOKS.format(c='text')} AS toks,
    md5({PIPE_SHUFFLE_SEED!r} || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), o AS (
  SELECT doc_id, n_tokens, toks,
    CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT)
      AS train_pos,
    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS start_token
  FROM t
)"""

ORACLE_SQL["pipeline_pack"] = f"""
WITH {_PIPE_PACK_CTE}
SELECT doc_id, train_pos, n_tokens, start_token,
  start_token // {PACK_CHUNK_TOKENS} AS first_chunk,
  (start_token + n_tokens - 1) // {PACK_CHUNK_TOKENS} AS last_chunk,
  (start_token // {PACK_CHUNK_TOKENS})
    != ((start_token + n_tokens - 1) // {PACK_CHUNK_TOKENS})
    AS spans_boundary
FROM o
"""

ORACLE_SQL["pipeline_chunks"] = f"""
WITH {_PIPE_PACK_CTE}, u AS (
  SELECT start_token + CAST(i AS BIGINT) AS gpos, tok
  FROM (
    SELECT start_token,
           unnest(toks) AS tok,
           unnest(range(len(toks))) AS i
    FROM o
    WHERE n_tokens > 0
  )
)
SELECT gpos // {PACK_CHUNK_TOKENS} AS chunk_id,
  string_agg(tok, ' ' ORDER BY gpos) AS example,
  CAST(count(*) AS INT) AS n_tokens
FROM u
GROUP BY 1
"""


def _pipe_epoch_cte(tag: str, where: str, pos_off: str, tok_off: str) -> str:
    """One epoch of the incremental pack as (t<tag>, o<tag>) CTEs: the
    single-node global window over the epoch's own docs, offset by
    scalar-subquery bases."""
    return f"""
t{tag} AS (
  SELECT doc_id,
    CAST(len({_TOKS.format(c='text')}) AS INT) AS n_tokens,
    {_TOKS.format(c='text')} AS toks,
    md5({PIPE_SHUFFLE_SEED!r} || CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE {where}
), o{tag} AS (
  SELECT doc_id, n_tokens, toks,
    CAST(({pos_off}) + row_number() OVER (ORDER BY h, doc_id) - 1
         AS BIGINT) AS train_pos,
    CAST(({tok_off}) + COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS start_token
  FROM t{tag}
)"""


_PIPE_INC_BASES = f"""
b AS (
  SELECT CAST(count(*) AS BIGINT) AS c,
    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t
  FROM t0
)"""

_PIPE_INC_CTES = (
    _pipe_epoch_cte("0", f"doc_id % {WAVE_MOD} <> 0", "0", "0")
    + ","
    + _PIPE_INC_BASES
    + ","
    + _pipe_epoch_cte(
        "1",
        f"doc_id % {WAVE_MOD} = 0",
        "SELECT c FROM b",
        "SELECT CASE WHEN t > 0 THEN ((t - 1) // "
        f"{PACK_CHUNK_TOKENS} + 1) * {PACK_CHUNK_TOKENS} "
        "ELSE 0 END FROM b",
    )
)

_PIPE_INC_SELECT = f"""
SELECT doc_id, train_pos, n_tokens, start_token,
  start_token // {PACK_CHUNK_TOKENS} AS first_chunk,
  (start_token + n_tokens - 1) // {PACK_CHUNK_TOKENS} AS last_chunk,
  (start_token // {PACK_CHUNK_TOKENS})
    != ((start_token + n_tokens - 1) // {PACK_CHUNK_TOKENS})
    AS spans_boundary,
  {{epoch}} AS epoch
FROM o{{tag}}"""

ORACLE_SQL["pipeline_pack_incremental"] = f"""
WITH {_PIPE_INC_CTES}
{_PIPE_INC_SELECT.format(epoch=0, tag=0)}
UNION ALL
{_PIPE_INC_SELECT.format(epoch=1, tag=1)}
"""

ORACLE_SQL["pipeline_chunks_incremental"] = f"""
WITH {_PIPE_INC_CTES}, u AS (
  SELECT start_token + CAST(i AS BIGINT) AS gpos, tok
  FROM (
    SELECT start_token, unnest(toks) AS tok,
           unnest(range(len(toks))) AS i
    FROM o0 WHERE n_tokens > 0
  )
  UNION ALL
  SELECT start_token + CAST(i AS BIGINT) AS gpos, tok
  FROM (
    SELECT start_token, unnest(toks) AS tok,
           unnest(range(len(toks))) AS i
    FROM o1 WHERE n_tokens > 0
  )
)
SELECT gpos // {PACK_CHUNK_TOKENS} AS chunk_id,
  string_agg(tok, ' ' ORDER BY gpos) AS example,
  CAST(count(*) AS INT) AS n_tokens
FROM u
GROUP BY 1
"""

def _pipeline_verdicts_incremental_sql() -> str:
    """Wave-vs-state curation in SQL: the corpus side of the minhash
    banding is re-ranked into the capped stored index, the wave side
    probes it; within-wave components come from a recursive CTE over
    wave-only capped pairs; exact canonicals coalesce stored over
    within-wave; decontamination grams come from the STORED benchmark
    docs only.  Mirrors ``curation_verdicts`` with ``stored_ck`` and
    ``index`` given."""
    norm = _NORM.format(c="text")
    return f"""
WITH RECURSIVE {_minhash_sql()},
qf AS ({ORACLE_SQL["quality_filter"]}),
sp AS ({ORACLE_SQL["split_assign"]}),
wave AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {WAVE_MOD} = 0
), ck0 AS (
  SELECT doc_id, md5({norm}) AS ck FROM documents
), stored AS (
  SELECT ck, MIN(doc_id) AS stored_canon FROM ck0
  WHERE doc_id % {WAVE_MOD} <> 0 GROUP BY ck
), wcanon AS (
  SELECT ck, MIN(doc_id) AS wave_canon FROM ck0
  WHERE doc_id % {WAVE_MOD} = 0 GROUP BY ck
), ec AS (
  SELECT c.doc_id,
         COALESCE(s.stored_canon, w.wave_canon) AS exact_canon
  FROM ck0 c
  JOIN wcanon w USING (ck)
  LEFT JOIN stored s USING (ck)
  WHERE c.doc_id % {WAVE_MOD} = 0
), idx AS (
  SELECT doc_id, band, band_hash,
    row_number() OVER (
      PARTITION BY band, band_hash ORDER BY doc_id
    ) AS rn
  FROM banded WHERE doc_id % {WAVE_MOD} <> 0
), xc AS (
  SELECT w.doc_id, MIN(i.doc_id) AS cross_canon
  FROM banded w JOIN idx i
    ON w.band = i.band AND w.band_hash = i.band_hash
   AND w.doc_id <> i.doc_id
  WHERE w.doc_id % {WAVE_MOD} = 0 AND i.rn <= {D.BUCKET_CAP}
  GROUP BY w.doc_id
), wb AS (
  SELECT doc_id, band, band_hash,
    row_number() OVER (
      PARTITION BY band, band_hash ORDER BY doc_id
    ) AS rn
  FROM banded WHERE doc_id % {WAVE_MOD} = 0
), wpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM wb a JOIN wb b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  WHERE a.rn <= {D.BUCKET_CAP} AND b.rn <= {D.BUCKET_CAP}
), wedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM wpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM wpairs
), reach(start, node) AS (
  SELECT doc_id, doc_id FROM wave
  UNION
  SELECT r.start, e.dst FROM reach r JOIN wedges e ON e.src = r.node
), wlabel AS (
  SELECT start AS doc_id, MIN(node) AS label FROM reach GROUP BY start
), nd AS (
  SELECT w.doc_id,
         COALESCE(x.cross_canon, l.label, w.doc_id) AS nd_canon
  FROM wave w
  LEFT JOIN xc x USING (doc_id)
  LEFT JOIN wlabel l USING (doc_id)
), g AS (
  SELECT doc_id,
         array_to_string(w[i:i+{DECONTAM_N - 1}], ' ') AS gram
  FROM toks,
       UNNEST(CASE WHEN len(w) >= {DECONTAM_N}
                   THEN generate_series(1, len(w) - {DECONTAM_N - 1})
                   ELSE []::BIGINT[] END) AS u(i)
), bgrams AS (
  SELECT DISTINCT gram FROM g
  WHERE doc_id < {DECONTAM_BENCH_IDS} AND doc_id % {WAVE_MOD} <> 0
), de AS (
  SELECT DISTINCT g.doc_id FROM g JOIN bgrams USING (gram)
  WHERE g.doc_id % {WAVE_MOD} = 0
)
SELECT w.doc_id,
  CASE WHEN NOT qf.keep THEN 'quality:' || qf.reason
       WHEN w.doc_id != ec.exact_canon THEN 'exact_dup'
       WHEN w.doc_id != nd.nd_canon THEN 'near_dup'
       WHEN de.doc_id IS NOT NULL THEN 'contaminated'
       ELSE 'kept:' || sp.split END AS status
FROM wave w
JOIN qf ON w.doc_id = qf.doc_id
JOIN ec ON w.doc_id = ec.doc_id
JOIN nd ON w.doc_id = nd.doc_id
LEFT JOIN de ON w.doc_id = de.doc_id
JOIN sp ON w.doc_id = sp.doc_id
"""


ORACLE_SQL["pipeline_verdicts_incremental"] = (
    _pipeline_verdicts_incremental_sql()
)

# from-scratch capped index over the WHOLE corpus — equality with the
# compacted corpus∪wave appended index is the exactness proof
ORACLE_SQL["band_index_compact"] = f"""
WITH {_minhash_sql()}
SELECT doc_id, band, band_hash FROM mh_capped WHERE rn <= {D.BUCKET_CAP}
"""

_IVF_SQ = (
    "list_aggregate(list_transform(range(1, len(e.qv) + 1), "
    "i -> (e.qv[i] - c.cvec[i]) * (e.qv[i] - c.cvec[i])), 'sum')"
)

ORACLE_SQL["ivf_append_wave"] = f"""
WITH base AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), cents AS (
  SELECT vec_id AS cid, qv AS cvec FROM base
  WHERE vec_id % {WAVE_MOD} <> 0
  ORDER BY vec_id LIMIT {S.N_CENTROIDS}
), wave AS (
  SELECT vec_id, qv FROM base WHERE vec_id % {WAVE_MOD} = 0
)
SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cid AS cell,
    row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_IVF_SQ} ASC, c.cid ASC) AS rn
  FROM wave e, cents c
) WHERE rn = 1
"""

ORACLE_SQL["wave_diff"] = """
WITH old AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 6
), new AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN md5(text || ' refreshed')
         ELSE md5(text) END AS h
  FROM documents WHERE doc_id % 5 <> 4
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN o.h = n.h THEN 'unchanged'
       ELSE 'changed' END AS status,
  o.h AS old_hash, n.h AS new_hash
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""

# The stored-index probe is bit-equal to the inline two-pass scan by
# construction (same IEEE expression tree, fixed term order), so it
# shares bm25_topk's oracle verbatim.
ORACLE_SQL["bm25_topk_stored"] = ORACLE_SQL["bm25_topk"]

ORACLE_SQL["snapshot_as_of"] = """
WITH versions AS (
  SELECT doc_id, 0 AS wave, 'upsert' AS op, md5(text) AS h
  FROM documents WHERE doc_id % 7 <> 6
  UNION ALL
  SELECT doc_id, 1, 'upsert', md5(text || ' w1')
  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 11 <> 3
  UNION ALL
  SELECT doc_id, 1, 'delete', md5('')
  FROM documents WHERE doc_id % 11 = 3
  UNION ALL
  SELECT doc_id, 2, 'upsert', md5(text || ' w2')
  FROM documents
  WHERE doc_id % 7 = 6 AND NOT (doc_id % 11 = 3 AND doc_id % 2 = 0)
  UNION ALL
  SELECT doc_id, 2, 'upsert', md5(text || ' back')
  FROM documents WHERE doc_id % 11 = 3 AND doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 3, 'upsert', md5(text || ' w3')
  FROM documents WHERE doc_id % 13 = 2
),
latest AS (
  SELECT doc_id, wave, op, h,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wave DESC) AS rn
  FROM versions WHERE wave <= 2
)
SELECT doc_id, CAST(wave AS INTEGER) AS version_wave, h
FROM latest WHERE rn = 1 AND op = 'upsert'
"""

ORACLE_SQL["vacuum_plan"] = """
WITH versions AS (
  SELECT doc_id, 0 AS wave, 'upsert' AS op
  FROM documents WHERE doc_id % 7 <> 6
  UNION ALL
  SELECT doc_id, 1, 'upsert'
  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 11 <> 3
  UNION ALL
  SELECT doc_id, 1, 'delete'
  FROM documents WHERE doc_id % 11 = 3
  UNION ALL
  SELECT doc_id, 2, 'upsert'
  FROM documents
  WHERE doc_id % 7 = 6 AND NOT (doc_id % 11 = 3 AND doc_id % 2 = 0)
  UNION ALL
  SELECT doc_id, 2, 'upsert'
  FROM documents WHERE doc_id % 11 = 3 AND doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 3, 'upsert'
  FROM documents WHERE doc_id % 13 = 2
),
per_doc AS (
  SELECT doc_id,
         COUNT(*) AS n_versions,
         ARG_MAX(op, wave) AS last_op
  FROM versions GROUP BY doc_id
),
bucketed AS (
  SELECT SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
         n_versions,
         CASE WHEN last_op = 'upsert' THEN 1 ELSE 0 END AS live
  FROM per_doc
)
SELECT bucket,
       CAST(SUM(n_versions) AS BIGINT) AS n_versions,
       CAST(SUM(live) AS BIGINT) AS n_live,
       CAST(SUM(n_versions) - SUM(live) AS BIGINT) AS n_dead,
       (SUM(n_versions) - SUM(live)) * 4 >= SUM(n_versions) AS rewrite
FROM bucketed GROUP BY bucket
"""

ORACLE_SQL["table_extract"] = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS.format(c='lower(text)')} AS t FROM documents
), body AS (
  SELECT doc_id, 0 AS table_idx,
    CAST(1 + (pos - 1) // 4 AS INT) AS row_idx,
    CAST((pos - 1) % 4 AS INT) AS col_idx,
    FALSE AS is_header, tok AS cell
  FROM (
    SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
    FROM toks
  )
), hdr AS (
  SELECT doc_id, 0 AS table_idx, 0 AS row_idx, u.col_idx, TRUE AS is_header,
         u.cell
  FROM documents, (VALUES (0, 'c0'), (2, 'c2'), (3, 'c3')) u(col_idx, cell)
  WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 0, 0, u.col_idx, TRUE, u.cell
  FROM documents,
       (VALUES (0, 'c0'), (1, 'c1'), (2, 'c2'), (3, 'c3')) u(col_idx, cell)
  WHERE doc_id % 4 <> 0
), aux AS (
  SELECT doc_id, 1 AS table_idx, 0 AS row_idx, u.col_idx,
         FALSE AS is_header, u.cell
  FROM documents, (VALUES (0, 'x'), (1, 'y')) u(col_idx, cell)
)
SELECT doc_id, CAST(table_idx AS INT) AS table_idx,
       CAST(row_idx AS INT) AS row_idx, CAST(col_idx AS INT) AS col_idx,
       is_header, cell
FROM (SELECT * FROM hdr UNION ALL SELECT * FROM body
      UNION ALL SELECT * FROM aux)
"""

ORACLE_SQL["recrawl_schedule"] = f"""
WITH versions AS (
  SELECT doc_id, 0 AS wave, 'upsert' AS op
  FROM documents WHERE doc_id % 7 <> 6
  UNION ALL
  SELECT doc_id, 1, 'upsert'
  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 11 <> 3
  UNION ALL
  SELECT doc_id, 1, 'delete'
  FROM documents WHERE doc_id % 11 = 3
  UNION ALL
  SELECT doc_id, 2, 'upsert'
  FROM documents
  WHERE doc_id % 7 = 6 AND NOT (doc_id % 11 = 3 AND doc_id % 2 = 0)
  UNION ALL
  SELECT doc_id, 2, 'upsert'
  FROM documents WHERE doc_id % 11 = 3 AND doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 3, 'upsert'
  FROM documents WHERE doc_id % 13 = 2
),
per_doc AS (
  SELECT doc_id,
         COUNT(*) - 1 AS changes,
         MIN(wave) AS first_wave,
         ARG_MAX(op, wave) AS last_op
  FROM versions GROUP BY doc_id
)
SELECT doc_id,
  CAST(changes AS BIGINT) AS changes,
  CAST(3 - first_wave AS BIGINT) AS opportunities,
  CAST((1000000 * (changes + 1)) // ((3 - first_wave) + 2) AS BIGINT)
    AS rate_ppm,
  CASE WHEN last_op = 'delete' THEN 'retired'
       WHEN (1000000 * (changes + 1)) // ((3 - first_wave) + 2)
            >= {RECRAWL_HOT_PPM} THEN 'hot'
       WHEN (1000000 * (changes + 1)) // ((3 - first_wave) + 2)
            >= {RECRAWL_WARM_PPM} THEN 'warm'
       ELSE 'cold' END AS tier
FROM per_doc
"""

ORACLE_SQL["curation_funnel"] = f"""
WITH qf AS ({ORACLE_SQL["quality_filter"]}),
ec0 AS (SELECT doc_id, md5({_NORM.format(c="text")}) AS ck FROM documents),
ecc AS (SELECT ck, MIN(doc_id) AS exact_canon FROM ec0 GROUP BY ck),
ec AS (SELECT e.doc_id, c.exact_canon FROM ec0 e JOIN ecc c USING (ck)),
nd AS ({ORACLE_SQL["dedup_clusters"]}),
de AS ({ORACLE_SQL["decontaminate"]}),
sp AS ({ORACLE_SQL["split_assign"]})
SELECT d.doc_id,
  CASE WHEN d.doc_id < {DECONTAM_BENCH_IDS} THEN 'benchmark'
       WHEN NOT qf.keep THEN 'quality:' || qf.reason
       WHEN d.doc_id != ec.exact_canon THEN 'exact_dup'
       WHEN d.doc_id != nd.canonical_id THEN 'near_dup'
       WHEN de.doc_id IS NOT NULL THEN 'contaminated'
       ELSE 'kept:' || sp.split END AS status
FROM documents d
JOIN qf ON d.doc_id = qf.doc_id
JOIN ec ON d.doc_id = ec.doc_id
JOIN nd ON d.doc_id = nd.doc_id
LEFT JOIN de ON d.doc_id = de.doc_id
JOIN sp ON d.doc_id = sp.doc_id
"""

# Shared mixture CTE chain: per-source counts -> IEEE-exact sqrt
# temperature weight -> integer-ppm quota (see _temperature_quotas).
_TEMP_CTES = f"""c AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), t AS (
  SELECT source, n_docs,
    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))
               * {float(TEMP_WEIGHT_SCALE)!r}) AS BIGINT) AS s
  FROM c
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         CAST(SUM(s) AS BIGINT) AS total_s
  FROM t
)"""

ORACLE_SQL["temperature_mixture"] = f"""
WITH {_TEMP_CTES}
SELECT source, n_docs,
  n_docs * {TEMP_WEIGHT_SCALE} // total_docs AS share_ppm,
  s * {TEMP_WEIGHT_SCALE} // total_s AS temp_weight_ppm,
  (s * {TEMP_WEIGHT_SCALE} // total_s)
    * (total_docs // {TEMP_BUDGET_DEN}) // {TEMP_WEIGHT_SCALE} AS quota
FROM t, tot
"""

# Single-node per-source global window — the Spark side decomposes the
# rank over (source, priority-bucket); agreement proves the
# decomposition exact.
ORACLE_SQL["temperature_sample"] = f"""
WITH {_TEMP_CTES}, q AS (
  SELECT source,
    (s * {TEMP_WEIGHT_SCALE} // total_s)
      * (total_docs // {TEMP_BUDGET_DEN}) // {TEMP_WEIGHT_SCALE} AS quota
  FROM t, tot
), p AS (
  SELECT doc_id, source,
    CAST(row_number() OVER (
      PARTITION BY source
      ORDER BY {_MD5INT.format(expr='CAST(doc_id AS VARCHAR)')}, doc_id
    ) AS BIGINT) AS src_rank
  FROM documents
)
SELECT p.doc_id, p.source, p.src_rank, p.src_rank <= q.quota AS kept
FROM p JOIN q ON p.source = q.source
"""

ORACLE_SQL["rrf_hybrid_topk"] = f"""
WITH bm AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS r
  FROM ({ORACLE_SQL['bm25_topk']})
), dn AS (
  SELECT vec_id AS doc_id,
    CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS r
  FROM ({ORACLE_SQL['cosine_topk']})
)
SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
  bm.r AS bm25_rank, dn.r AS cosine_rank,
  CAST(COALESCE({RRF_SCALE} // ({RRF_K} + bm.r), 0)
     + COALESCE({RRF_SCALE} // ({RRF_K} + dn.r), 0) AS BIGINT) AS rrf_micro
FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
ORDER BY rrf_micro DESC, COALESCE(bm.doc_id, dn.doc_id) ASC
LIMIT {RRF_TOP_K}
"""


def _hits_sql() -> str:
    """Chained-CTE fixed-point HITS: one authority + one hub CTE per
    iteration, L1 renormalization via integer scalar subqueries — the
    same ops bit-for-bit as q_link_hits (all values nonnegative, so
    DuckDB ``//`` matches Spark's truncating DIV)."""
    n = "(SELECT COUNT(*) FROM documents)"
    iters = []
    for i in range(1, HITS_ITERS + 1):
        iters.append(
            f"""ar{i} AS (
  SELECT e.dst AS doc_id, SUM(h.hub) AS raw
  FROM edges e JOIN h{i - 1} h ON e.src = h.doc_id GROUP BY e.dst
), a{i} AS (
  SELECT d.doc_id,
    CAST(COALESCE(r.raw, 0) * {HITS_SCALE}
         // (SELECT SUM(raw) FROM ar{i}) AS BIGINT) AS auth
  FROM documents d LEFT JOIN ar{i} r ON d.doc_id = r.doc_id
), hr{i} AS (
  SELECT e.src AS doc_id, SUM(a.auth) AS raw
  FROM edges e JOIN a{i} a ON e.dst = a.doc_id GROUP BY e.src
), h{i} AS (
  SELECT d.doc_id,
    CAST(COALESCE(r.raw, 0) * {HITS_SCALE}
         // (SELECT SUM(raw) FROM hr{i}) AS BIGINT) AS hub
  FROM documents d LEFT JOIN hr{i} r ON d.doc_id = r.doc_id
)"""
        )
    return f"""
WITH edges AS (
  SELECT doc_id AS src, (doc_id * 2 + 1) % {n} AS dst FROM documents
  UNION ALL
  SELECT doc_id AS src, (doc_id * 3 + 7) % {n} AS dst FROM documents
), h0 AS (
  SELECT doc_id, {HITS_SCALE} // {n} AS hub FROM documents
), {', '.join(iters)}
SELECT h.doc_id, h.hub, a.auth AS authority
FROM h{HITS_ITERS} h JOIN a{HITS_ITERS} a ON h.doc_id = a.doc_id
"""


ORACLE_SQL["link_hits"] = _hits_sql()

# Winnowing replay: same k-gram md5-int hashes, same window-min with
# rightmost tie-break (1-based SQL positions mapped to the 0-based
# gram index the Spark side emits), DISTINCT standing in for the
# pre-explode array_distinct.
ORACLE_SQL["winnow_fingerprints"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(c='text')} AS w FROM documents
), g AS (
  SELECT doc_id,
    CASE WHEN len(w) >= {WINNOW_K}
      THEN list_transform(
        generate_series(1, len(w) - {WINNOW_K - 1}),
        i -> {_MD5INT.format(
            expr=f"array_to_string(w[i:i+{WINNOW_K - 1}], ' ')"
        )})
      ELSE []::BIGINT[] END AS hs
  FROM t
), nz AS (
  SELECT doc_id, hs, len(hs) AS n FROM g WHERE len(hs) > 0
), win AS (
  SELECT doc_id, hs, n,
    unnest(generate_series(1, greatest(n - {WINNOW_W - 1}, 1))) AS i
  FROM nz
), mn AS (
  SELECT doc_id, hs, n, i,
    list_aggregate(hs[i:least(i + {WINNOW_W - 1}, n)], 'min') AS fp
  FROM win
)
SELECT DISTINCT doc_id,
  CAST(i + list_aggregate(
    list_filter(generate_series(1, least({WINNOW_W}, n - i + 1)),
                j -> hs[i + j - 1] = fp),
    'max') - 2 AS INT) AS pos,
  fp
FROM mn
"""


def _retrieval_eval_sql() -> str:
    """Same IEEE cosine expression tree as the Spark side, same
    literal integer discount tables, BIGINT casts everywhere the
    Spark schema is long."""
    d_list = "[" + ", ".join(str(d) for d in _EVAL_D) + "]"
    p_list = "[" + ", ".join(str(p) for p in _EVAL_D_PREFIX) + "]"
    dot = _IDOT.format(a="c.v", b="q.qv")
    na = _IDOT.format(a="c.v", b="c.v")
    nb = _IDOT.format(a="q.qv", b="q.qv")
    idcg = f"CAST(({p_list})[least(r.n_rel, {EVAL_K})] AS BIGINT)"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, {_QUANT} AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < {EVAL_N_QUERIES}
), c AS (
  SELECT vec_id, label, {_QUANT} AS v
  FROM embeddings WHERE vec_id >= {EVAL_N_QUERIES}
), scored AS (
  SELECT q.query_id, q.qlabel, c.vec_id, c.label,
    round(CAST({dot} AS DOUBLE) /
          (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))),
          6) AS cos
  FROM c, q
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS r
  FROM scored
), top AS (
  SELECT * FROM ranked WHERE r <= {EVAL_K}
), rel AS (
  SELECT label, COUNT(*) AS n_rel FROM c GROUP BY label
), agg AS (
  SELECT query_id, qlabel,
    CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
         AS BIGINT) AS hits,
    CAST(SUM(CASE WHEN label = qlabel THEN ({d_list})[r] ELSE 0 END)
         AS BIGINT) AS dcg_micro
  FROM top GROUP BY 1, 2
)
SELECT a.query_id, CAST(r.n_rel AS BIGINT) AS n_rel, a.hits,
  a.hits * 1000000 // {EVAL_K} AS precision_ppm,
  a.hits * 1000000 // r.n_rel AS recall_ppm,
  a.dcg_micro,
  {idcg} AS idcg_micro,
  a.dcg_micro * 1000000 // {idcg} AS ndcg_ppm
FROM agg a JOIN rel r ON a.qlabel = r.label
"""


ORACLE_SQL["retrieval_eval"] = _retrieval_eval_sql()

QUERY_FNS: dict[str, Query] = {
    "pipeline_verdicts_incremental": q_pipeline_verdicts_incremental,
    "pipeline_pack_incremental": q_pipeline_pack_incremental,
    "pipeline_chunks_incremental": q_pipeline_chunks_incremental,
    "band_index_compact": q_band_index_compact,
    "ivf_append_wave": q_ivf_append_wave,
    "windowed_event_rates": q_windowed_event_rates,
    "url_normalize": q_url_normalize,
    "url_normalize_rich": q_url_normalize_rich,
    "link_extraction": q_link_extraction,
    "url_hashes": q_url_hashes,
    "extension_filter": q_extension_filter,
    "doc_slugs": q_doc_slugs,
    "token_counts": q_token_counts,
    "quality_scores": q_quality_scores,
    "gopher_filter": q_gopher_filter,
    "corpus_percentiles": q_corpus_percentiles,
    "distinct_shingles": q_distinct_shingles,
    "zorder_layout": q_zorder_layout,
    "zorder_pruned_scan": q_zorder_pruned_scan,
    "compaction_plan": q_compaction_plan,
    "curation_funnel": q_curation_funnel,
    "histogram_quantiles": q_histogram_quantiles,
    "langid": q_langid,
    "repetition_scores": q_repetition_scores,
    "dup_ngram_stats": q_dup_ngram_stats,
    "fingerprints": q_fingerprints,
    "exact_dedup": q_exact_dedup,
    "line_dedup": q_line_dedup,
    "exact_substring_dedup": q_exact_substring_dedup,
    "minhash_pairs": q_minhash_pairs,
    "minhash_verified_pairs": q_minhash_verified_pairs,
    "incremental_dedup": q_incremental_dedup,
    "embedding_neardup": q_embedding_neardup,
    "semantic_dedup": q_semantic_dedup,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "quality_filter": q_quality_filter,
    "quality_lexical": q_quality_lexical,
    "dsir_weights": q_dsir_weights,
    "blocklist_filter": q_blocklist_filter,
    "ccnet_perplexity": q_ccnet_perplexity,
    "anchor_texts": q_anchor_texts,
    "bpe_merges": q_bpe_merges,
    "bpe_subword_counts": q_bpe_subword_counts,
    "packed_examples": q_packed_examples,
    "sequence_pack": q_sequence_pack,
    "pii_scrub": q_pii_scrub,
    "stratified_sample": q_stratified_sample,
    "priority_sample": q_priority_sample,
    "split_assign": q_split_assign,
    "domain_quota": q_domain_quota,
    "vocab_topk": q_vocab_topk,
    "source_mixture": q_source_mixture,
    "temperature_mixture": q_temperature_mixture,
    "temperature_sample": q_temperature_sample,
    "bm25_topk": q_bm25_topk,
    "bm25_topk_stored": q_bm25_topk_stored,
    "rrf_hybrid_topk": q_rrf_hybrid_topk,
    "wave_diff": q_wave_diff,
    "snapshot_as_of": q_snapshot_as_of,
    "vacuum_plan": q_vacuum_plan,
    "recrawl_schedule": q_recrawl_schedule,
    "table_extract": q_table_extract,
    "training_order": q_training_order,
    "pipeline_pack": q_pipeline_pack,
    "pipeline_chunks": q_pipeline_chunks,
    "chunk_windows": q_chunk_windows,
    "heavy_hitters": q_heavy_hitters,
    "winnow_fingerprints": q_winnow_fingerprints,
    "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "decontaminate": q_decontaminate,
    "jaccard_pairs": q_jaccard_pairs,
    "cosine_topk": q_cosine_topk,
    "retrieval_eval": q_retrieval_eval,
    "sq8_ann_topk": q_sq8_ann_topk,
    "sq8_ann_topk_stored": q_sq8_ann_topk_stored,
    "lsh_ann_topk": q_lsh_ann_topk,
    "lsh_ann_topk_pruned": q_lsh_ann_topk_pruned,
    "ivf_ann_topk": q_ivf_ann_topk,
    "ivf_ann_topk_pruned": q_ivf_ann_topk_pruned,
    "ivf_ann_topk_nprobe": q_ivf_ann_topk_nprobe,
    "ivf_ann_topk_trained": q_ivf_ann_topk_trained,
    "pq_ann_topk": q_pq_ann_topk,
    "pq_ann_topk_stored": q_pq_ann_topk_stored,
    "crawl_frontier": q_crawl_frontier,
    "redirect_resolution": q_redirect_resolution,
    "crawl_frontier_deep": q_crawl_frontier_deep,
    "link_pagerank": q_link_pagerank,
    "link_hits": q_link_hits,
    "media_features": q_media_features,
    "frame_samples": q_frame_samples,
    "audio_features": q_audio_features,
    "transient_prefilter": q_transient_prefilter,
    "extract_excerpt": q_extract_excerpt,
    "extract_interleaved": q_extract_interleaved,
    "caption_pairs": q_caption_pairs,
    "extract_markdown": q_extract_markdown,
    "pdf_extract": q_pdf_extract,
    "mixed_extract": q_mixed_extract,
    "warc_ingest": q_warc_ingest,
    "warc_extract": q_warc_extract,
    "server_response": q_server_response,
    "lineage_rollup": q_lineage_rollup,
    "sitemap_locs": q_sitemap_locs,
    "sitemap_index_locs": q_sitemap_index_locs,
    "sitemap_tree_locs": q_sitemap_tree_locs,
    "robots_eval": q_robots_eval,
    "discovery_priorities": q_discovery_priorities,
    "markdown_variant_urls": q_markdown_variant_urls,
    "fasttext_quality": q_fasttext_quality,
    "nfc_normalize": q_nfc_normalize,
    "rate_limit_schedule": q_rate_limit_schedule,
    "rate_limit_adaptive": q_rate_limit_adaptive,
    "extract_spans_full": q_extract_spans_full,
    "page_metadata": q_page_metadata,
}
