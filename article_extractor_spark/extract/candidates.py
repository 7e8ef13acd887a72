"""Candidate discovery, ranking, and refinement.

Reproduces the reference's candidate semantics (candidate_finder.py:19-172;
SURVEY.md §2.1 E6, E13, E14): semantic containers first (article/main/
[role=main]), then long-enough div/section containers, ranked by content
score, then refined toward cleaner strong descendants.
"""

from __future__ import annotations

from dataclasses import dataclass

from . import rules
from .scoring import DocMemo, candidate_score, is_unlikely_candidate
from ..dom.node import Node


@dataclass
class RankedCandidate:
    node: Node
    score: float
    text_len: int
    link_density: float


def discover_candidates(doc: Node, memo: DocMemo) -> list[Node]:
    """Collect candidate containers in discovery order, deduped by
    identity, skipping unlikely nodes (candidate_finder.py:56-85)."""
    seen: set[int] = set()
    found: list[Node] = []

    def consider(node: Node) -> None:
        key = id(node)
        if key in seen or is_unlikely_candidate(node):
            return
        seen.add(key)
        found.append(node)

    elements = memo.elements()
    if elements is not None:
        # Primed fast path: ONE pass over the document-order element
        # list replaces five full-tree query() walks.  Group order
        # (article, main, [role=main], then div/section wrappers) is
        # preserved by bucketing the single pass; within each group the
        # list is already document order — exactly what the per-selector
        # query() walks produced.
        arts: list[Node] = []
        mains: list[Node] = []
        role_mains: list[Node] = []
        divs: list[Node] = []
        sections: list[Node] = []
        for node in elements:
            if node is doc:
                continue  # query() yields strict descendants only
            name = node.name
            if name == "article":
                arts.append(node)
            elif name == "main":
                mains.append(node)
            # exact twin of the [role="main"] selector matcher
            # (selector.py str-coerced equality)
            if str(node.attrs.get("role", "")) == "main":
                role_mains.append(node)
            if name == "div":
                divs.append(node)
            elif name == "section":
                sections.append(node)
        for node in arts:
            consider(node)
        for node in mains:
            consider(node)
        for node in role_mains:
            consider(node)
        # div/section wrappers are scanned even when semantic tags
        # exist: many pages put the body inside <main> + extra chrome.
        # All divs are considered before all sections — the reference's
        # fallback runs one query() per tag in that order
        # (candidate_finder.py:78-85), and rank() is a stable sort, so
        # equal-scoring candidates tie-break by this discovery order.
        for group in (divs, sections):
            for node in group:
                if memo.text_len(node) > rules.MIN_CANDIDATE_CHARS:
                    consider(node)
        return found

    for node in doc.query("article"):
        consider(node)
    for node in doc.query("main"):
        consider(node)
    for node in doc.query('[role="main"]'):
        consider(node)
    # div/section wrappers are scanned even when semantic tags exist:
    # many pages put the body inside <main> plus extra chrome.
    for tag in ("div", "section"):
        for node in doc.query(tag):
            if memo.text_len(node) > rules.MIN_CANDIDATE_CHARS:
                consider(node)
    return found


def rank(candidates: list[Node], memo: DocMemo) -> list[RankedCandidate]:
    """Score all candidates, highest first (scorer.py:238-270)."""
    score_memo: dict[int, float] = {}
    ranked = [
        RankedCandidate(
            node=node,
            score=candidate_score(node, memo, score_memo),
            text_len=memo.text_len(node),
            link_density=memo.link_density(node),
        )
        for node in candidates
    ]
    ranked.sort(key=lambda c: -c.score)
    return ranked


def _is_strict_descendant(node: Node, ancestor: Node) -> bool:
    cursor = node.parent
    while cursor is not None:
        if cursor is ancestor:
            return True
        cursor = cursor.parent
    return False


def _stronger_descendant(
    current: RankedCandidate, ranked: list[RankedCandidate]
) -> RankedCandidate | None:
    """One refinement step (candidate_finder.py:108-162): pick a strict
    descendant with near-equal score, comparable length, and meaningfully
    cleaner link density."""
    cur_score = max(current.score, 0.1)
    cur_len = max(current.text_len, rules.MIN_CANDIDATE_CHARS)
    cur_density = max(current.link_density, 0.0)

    viable: list[RankedCandidate] = []
    for cand in ranked:
        if cand is current:
            continue
        if cand.text_len < rules.MIN_CANDIDATE_CHARS:
            continue
        if not _is_strict_descendant(cand.node, current.node):
            continue

        need_ratio = rules.REFINE_SCORE_RATIO
        # A link-heavy wrapper with a much shorter, very clean descendant
        # can be narrowed aggressively.
        if (
            cur_density > 0.06
            and cand.link_density < 0.03
            and cand.text_len < cur_len * 0.4
        ):
            need_ratio = min(need_ratio, rules.REFINE_RELAXED_SCORE_RATIO)
        if (
            cand.node.name == "article"
            and cand.link_density < cur_density * 0.7
        ):
            need_ratio = min(need_ratio, rules.REFINE_ARTICLE_SCORE_RATIO)

        if cand.score < cur_score * need_ratio:
            continue
        if cand.text_len < cur_len * rules.REFINE_LENGTH_RATIO:
            continue
        cleaner = (
            cand.link_density <= cur_density * rules.REFINE_DENSITY_IMPROVEMENT
            or cand.link_density <= 0.05
        )
        if not cleaner:
            continue
        viable.append(cand)

    if not viable:
        return None
    viable.sort(key=lambda c: (-c.score, c.link_density, c.text_len))
    return viable[0]


def refine_top(ranked: list[RankedCandidate]) -> RankedCandidate:
    """≤3 refinement rounds toward cleaner strong descendants
    (candidate_finder.py:94-105)."""
    best = ranked[0]
    for _ in range(rules.REFINE_MAX_ROUNDS):
        narrower = _stronger_descendant(best, ranked)
        if narrower is None:
            break
        best = narrower
    return best
