"""Correctness checks: oracle agreement on sampled queries, pairwise F1, clusters.

The oracle side derives every name from the generator's pure functions
(``page_row`` + ``extract_name_bytes``), never from Spark output, and scores
with ``nm_core.oracle.OracleMatcher`` fitted on the full master side of the
query's block.
"""

from __future__ import annotations

import random
import re

from name_matching_spark.functions.extract import extract_name_bytes
from name_matching_spark.nm_core.oracle import (
    OracleMatcher,
    connected_components_local,
)
from name_matching_spark.nm_core.preprocess import (
    common_word_set,
    light_preprocess_name,
    pipeline_preprocess_name,
)
from name_matching_spark.sources.pages import page_row

SCORE_TOL = 1e-9
_URL_RE = re.compile(r"site(\d+)\.example/(\d+)")


def entity_of(url: str) -> int:
    """Ground-truth entity of a generated page url."""
    return int(_URL_RE.search(url).group(1))


def page_url_name(entity: int, variant: int, seed: int) -> tuple[str, str]:
    """(url, extracted name) of one generated page, computed on the driver."""
    row = page_row(entity, variant, seed)
    return row["url"], extract_name_bytes(row["html"], row["text"])


class Oracle:
    """Expected links for single queries, one ``OracleMatcher`` per block.

    ``masters``: (url, name, block) for every master page; block is "" when
    the workload is ungrouped.  ``block_prefix``: block -> the prefix size the
    pipeline resolves for that block (None = exact join), i.e. the plan the
    pipeline picks from block sizes under ``cfg``.
    """

    def __init__(self, masters, cfg, block_prefix):
        self.cfg = cfg
        self.block_prefix = block_prefix
        self._blocks: dict[str, list[tuple[str, str]]] = {}
        for url, name, block in sorted(masters):
            self._blocks.setdefault(block, []).append(
                (url, light_preprocess_name(name)))
        self._exact: dict[str, dict[str, list[str]]] = {}
        for block, rows in self._blocks.items():
            idx = self._exact.setdefault(block, {})
            for url, light in rows:
                if light:
                    idx.setdefault(light, []).append(url)
        # the pipeline counts common words over the whole master column,
        # across blocks, so the oracle does too
        self._common = (common_word_set(
            [pipeline_preprocess_name(light, cfg.preprocess)
             for rows in self._blocks.values() for _, light in rows],
            cfg.cut_off_no_scoring_words) if cfg.common_words else set())
        self._matchers: dict[str, OracleMatcher] = {}

    def _matcher(self, block: str) -> OracleMatcher:
        m = self._matchers.get(block)
        if m is None:
            m = OracleMatcher(
                top_n=self.cfg.top_n, metrics=self.cfg.metrics,
                cfg=self.cfg.preprocess,
                legal_suffixes=self.cfg.legal_suffixes,
                prefix_size=self.block_prefix[block],
                df_cap_frac=self.cfg.df_cap_frac)
            # masters sorted by url: the oracle's index order is then the
            # pipeline's (url-ordered) master-id tie-break order
            m.load_master([light for _, light in self._blocks[block]])
            m.word_set |= self._common
            self._matchers[block] = m
        return m

    def expect(self, name: str, block: str = "") -> dict[str, float]:
        """{master url: score} the pipeline must emit for this query."""
        light = light_preprocess_name(name)
        exact = self._exact.get(block, {}).get(light) if light else None
        if exact:
            return {url: 100.0 for url in exact}
        if block not in self._blocks:
            return {}
        om = self._matcher(block).match([light])[0]
        if om.match_id is None or om.score <= self.cfg.threshold:
            return {}
        return {self._blocks[block][om.match_id][0]: om.score}


def sample(items: list, k: int, seed: int, op: int) -> list:
    """Deterministic sample of one operation's queries."""
    rng = random.Random(f"{seed}/{op}")
    return rng.sample(items, min(k, len(items)))


def check_queries(oracle: Oracle, queries, rows) -> list[str]:
    """Compare Spark rows (a_id, b_id, score, ...) against the oracle for the
    sampled ``queries`` [(url, name, block)]; returns mismatch descriptions."""
    got: dict[str, dict[str, float]] = {}
    for r in rows:
        got.setdefault(r[0], {})[r[1]] = r[2]
    bad = []
    for url, name, block in queries:
        want = oracle.expect(name, block)
        have = got.get(url, {})
        if set(want) != set(have) or any(
                abs(want[b] - have[b]) > SCORE_TOL for b in want):
            bad.append(f"{url} {name!r}: spark={have} oracle={want}")
    return bad


def pair_counts(rows, n_queries: int) -> tuple[int, int, int]:
    """(true positives, predicted pairs, true pairs) of accepted links.
    Every query page has exactly one true master page (its entity's
    variant 0), so the true-pair count is the query count."""
    pairs = {(r[0], r[1]) for r in rows}
    tp = sum(entity_of(a) == entity_of(b) for a, b in pairs)
    return tp, len(pairs), n_queries


def f1(tp: int, predicted: int, truth: int) -> float:
    return 2.0 * tp / (predicted + truth) if predicted + truth else 0.0


def check_clusters(rows, components) -> list[str]:
    """Spark's components of the accepted edges must equal union-find's."""
    want = connected_components_local([(r[0], r[1]) for r in rows])
    have = {r[0]: r[1] for r in components}
    if want == have:
        return []
    diff = sorted(n for n in set(want) | set(have)
                  if want.get(n) != have.get(n))
    return [f"cluster labels differ on {len(diff)} nodes, e.g. {diff[:3]}"]
