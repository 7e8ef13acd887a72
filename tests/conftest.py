"""Shared fixtures: golden corpus discovery + a session-scoped SparkSession."""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

GOLDEN_ROOT = Path("/root/reference/tests/fixtures/fullpage_to_article_html")
TESTDATA_SF001 = Path("/root/testdata/sf0.001")


@dataclass(frozen=True)
class GoldenCase:
    host: str
    case: str
    url: str
    raw_path: Path
    expected_path: Path

    @property
    def name(self) -> str:
        return f"{self.host}/{self.case}"


def load_golden_cases() -> list[GoldenCase]:
    cases: list[GoldenCase] = []
    if not GOLDEN_ROOT.exists():
        return cases
    for meta_path in sorted(GOLDEN_ROOT.glob("*/*/meta.json")):
        case_dir = meta_path.parent
        raw = case_dir / "raw.html"
        expected = case_dir / "expected.html"
        if not raw.exists() or not expected.exists():
            continue
        meta = json.loads(meta_path.read_text(encoding="utf-8"))
        url = str(meta.get("url", "")).strip()
        if not url:
            continue
        cases.append(
            GoldenCase(
                host=case_dir.parent.name,
                case=case_dir.name,
                url=url,
                raw_path=raw,
                expected_path=expected,
            )
        )
    return cases


GOLDEN_CASES = load_golden_cases()

requires_golden = pytest.mark.skipif(
    not GOLDEN_ROOT.is_dir(),
    reason=f"reference golden corpus not present at {GOLDEN_ROOT}",
)


@pytest.fixture(scope="session")
def spark():
    from article_extractor_spark.session import build_session

    session = build_session(app_name="aes-tests", cores=4, shuffle_partitions=8)
    yield session
    session.stop()
