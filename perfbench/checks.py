"""Output checks. Each takes plain Python values collected from the run and
returns a list of human-readable problems (empty means the check passed),
so the tests can hand them deliberately corrupted outputs.

The recursive oracle in ``kernels.oracles`` is O(L^2) Python with an
unbounded-depth memo, so callers keep samples small and run them outside
any timed region; ``oracle_distance`` clears the memo after every pair to
bound its memory.
"""

from __future__ import annotations

import sys

from liblevenshtein_spark.kernels import oracles


def oracle_distance(a: str, b: str, algorithm: str = "standard") -> int:
    # the memoized recursion goes one frame per character of both strings
    if sys.getrecursionlimit() < 4 * (len(a) + len(b)) + 1000:
        sys.setrecursionlimit(4 * (len(a) + len(b)) + 1000)
    try:
        return oracles.distance(a, b, algorithm)
    finally:
        _clear_memos()


def _clear_memos() -> None:
    for fn in (oracles.standard, oracles.transposition, oracles.merge_and_split):
        fn.cache_clear()


def planted_recall(assignment: dict, planted: dict) -> tuple[float, list[str]]:
    """Share of planted duplicates whose cluster is their base's cluster."""
    missed = [
        dup for dup, (base, _) in planted.items()
        if base not in assignment or assignment.get(dup) != assignment[base]
    ]
    recall = 1.0 - len(missed) / len(planted) if planted else 1.0
    return recall, missed


def check_planted(assignment: dict, planted: dict) -> list[str]:
    recall, missed = planted_recall(assignment, planted)
    if recall < 1.0:
        return [f"planted recall {recall:.4f}: {len(missed)} duplicates not "
                f"co-clustered with their base, e.g. {missed[:3]}"]
    return []


def check_same(label: str, values: list) -> list[str]:
    """Every value equal (digests or totals across calls, or across runs)."""
    distinct = sorted({repr(v) for v in values})
    if len(distinct) > 1:
        return [f"{label} differs across calls: {distinct[:3]}"]
    return []


def check_match_sample(sample, fps: dict, n: int, algorithm: str) -> list[str]:
    """sample: (id_a, id_b, distance) emitted matches. Each must be within n
    and carry the oracle's exact distance on the generated fingerprints."""
    bad = []
    for a, b, d in sample:
        want = oracle_distance(fps[a], fps[b], algorithm)
        if d != want or d > n:
            bad.append(f"match ({a}, {b}) reported {d}, oracle {want}")
    return bad


def check_pair_sample(sample, n: int, algorithm: str) -> list[str]:
    """sample: (id_a, id_b, text_a, text_b, kernel distance). The kernel
    returns n+1 for anything beyond the band, so compare to the clamped
    oracle."""
    bad = []
    for a, b, ta, tb, d in sample:
        want = min(oracle_distance(ta, tb, algorithm), n + 1)
        if d != want:
            bad.append(f"pair ({a}, {b}) scored {d}, oracle (clamped) {want}")
    return bad


def check_pair_totals(totals: dict, n_pairs: int, n_near: int) -> list[str]:
    """totals: {'pairs', 'near_within'} from one score_pairs call. Every
    generated pair passes the length band, and every near pair is at most
    two edits apart."""
    bad = []
    if totals["pairs"] != n_pairs:
        bad.append(f"scored {totals['pairs']} pairs, expected {n_pairs}")
    if totals["near_within"] != n_near:
        bad.append(f"{n_near - totals['near_within']} of {n_near} near pairs "
                   "scored beyond the budget")
    return bad


def check_match_sets(got: set, want: set, label: str) -> list[str]:
    """Exact equality of (id_a, id_b, distance) match sets."""
    missing, extra = want - got, got - want
    bad = []
    if missing:
        bad.append(f"{label}: {len(missing)} matches missing, e.g. {sorted(missing)[:3]}")
    if extra:
        bad.append(f"{label}: {len(extra)} unexpected matches, e.g. {sorted(extra)[:3]}")
    return bad


def expected_transduce(queries, terms: list[str], n: int, algorithm: str) -> set:
    """(query_id, candidate, distance) for the given queries, by brute force."""
    out = set()
    for qid, term in queries:
        try:
            for cand, d in oracles.transduce_brute_force(term, terms, n, algorithm):
                out.add((qid, cand, d))
        finally:
            _clear_memos()
    return out


def check_transduce(hits: set, queries, expected: set) -> list[str]:
    """hits: every (query_id, candidate, distance) returned. Restricted to
    the sampled queries they must equal the brute-force answer."""
    ids = {q for q, _ in queries}
    got = {h for h in hits if h[0] in ids}
    return check_match_sets(got, expected, "transduce sample")


def check_exact_queries(hits: set, queries, terms: set) -> list[str]:
    """Every query whose term is in the dictionary finds itself at 0."""
    missed = [qid for qid, t in queries if t in terms and (qid, t, 0) not in hits]
    if missed:
        return [f"{len(missed)} in-dictionary queries missed their own term, "
                f"e.g. {missed[:3]}"]
    return []
