"""Dev harness: run the extraction pipeline over the reference golden
corpus and report per-fixture span equality.  Not part of the package;
tests/test_golden_corpus.py is the real gate."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from article_extractor_spark.extract import extract_document, html_fragment_to_spans

CORPUS = Path("/root/reference/tests/fixtures/fullpage_to_article_html")


def span_key(span: dict) -> tuple:
    return (span["kind"], span["text"], span["media_ref"])


def first_diff(a: list[dict], b: list[dict]) -> str:
    for i, (x, y) in enumerate(zip(a, b)):
        if span_key(x) != span_key(y):
            return (
                f"  span[{i}] mismatch:\n"
                f"    got      {x['kind']!r:8} {x['media_ref'][:60]!r} {x['text'][:160]!r}\n"
                f"    expected {y['kind']!r:8} {y['media_ref'][:60]!r} {y['text'][:160]!r}"
            )
    if len(a) != len(b):
        longer, name = (a, "got") if len(a) > len(b) else (b, "expected")
        extra = longer[min(len(a), len(b))]
        return (
            f"  length {len(a)} vs {len(b)}; first extra in {name}: "
            f"{extra['kind']} {extra['media_ref'][:60]!r} {extra['text'][:160]!r}"
        )
    return ""


def main() -> None:
    if not CORPUS.is_dir():
        sys.exit(f"golden corpus not found: {CORPUS} (nothing to run)")
    only = sys.argv[1] if len(sys.argv) > 1 else ""
    passed = failed = 0
    t0 = time.time()
    for meta_path in sorted(CORPUS.glob("*/*/meta.json")):
        case_dir = meta_path.parent
        name = f"{case_dir.parent.name}/{case_dir.name}"
        if only and only not in name:
            continue
        meta = json.loads(meta_path.read_text())
        url = meta["url"]
        raw = (case_dir / "raw.html").read_text(encoding="utf-8")
        expected_html = (case_dir / "expected.html").read_text(encoding="utf-8")

        result = extract_document(raw, url=url)
        expected_spans = html_fragment_to_spans(expected_html, base_url=url)

        got = [span_key(s) for s in result["spans"]]
        want = [span_key(s) for s in expected_spans]
        if result["success"] and got == want:
            passed += 1
            print(f"PASS {name}  ({len(got)} spans, wc={result['word_count']})")
        else:
            failed += 1
            print(f"FAIL {name}  success={result['success']} err={result['error']}")
            print(first_diff(result["spans"], expected_spans))
    print(f"\n{passed} passed, {failed} failed in {time.time()-t0:.1f}s")


if __name__ == "__main__":
    main()
