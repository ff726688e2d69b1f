"""Seeded input generation and staging for the four workloads.

Everything here is plain Python plus pyarrow: one generating process, no
Spark. The same seed gives byte-identical inputs (``digest`` makes that
checkable), and the package under test only ever sees these generated
tables.
"""

from __future__ import annotations

import hashlib
import os
import random
import string
from collections import defaultdict
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from liblevenshtein_spark.config import FINGERPRINT_SEP
from liblevenshtein_spark.testdata_gen import (
    gen_dictionary,
    gen_queries,
    gen_transcript_rows,
)

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
PAIR_ARROW = pa.schema([("id_a", pa.string()), ("id_b", pa.string())])
ENTITY_ARROW = pa.schema([("conv_id", pa.string()), ("fingerprint", pa.string())])
TERM_ARROW = pa.schema([("term", pa.string())])
QUERY_ARROW = pa.schema([("query_id", pa.string()), ("term", pa.string())])


@dataclass(frozen=True)
class Sizes:
    """Input sizes per workload. ``scale`` < 1 shrinks them for smoke tests."""

    link_bases: int = 1500
    pair_bases: int = 1200
    pair_near_per_base: int = 12
    pair_far_per_entity: int = 10
    stream_bases: int = 1600
    stream_batches: int = 40
    dict_terms: int = 6_000
    dict_added: int = 600
    queries: int = 600

    def scaled(self, scale: float) -> "Sizes":
        if scale == 1.0:
            return self
        s = lambda v, lo: max(lo, int(v * scale))  # noqa: E731
        return Sizes(
            link_bases=s(self.link_bases, 20),
            pair_bases=s(self.pair_bases, 20),
            pair_near_per_base=self.pair_near_per_base,
            pair_far_per_entity=self.pair_far_per_entity,
            stream_bases=s(self.stream_bases, 24),
            stream_batches=s(self.stream_batches, 6),
            dict_terms=s(self.dict_terms, 200),
            dict_added=s(self.dict_added, 20),
            queries=s(self.queries, 30),
        )


def digest(items) -> str:
    """Order-sensitive sha256 over the repr of each item."""
    h = hashlib.sha256()
    for it in items:
        h.update(repr(it).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def file_digest(paths) -> str:
    """sha256 over the bytes of the given files, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def write_rows(rows, path: str, schema: pa.Schema = TRANSCRIPT_ARROW) -> None:
    """Write row tuples to one parquet file, atomically (write + rename), so
    a file-source stream never sees a half-written file."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_parts(rows, directory: str, parts: int,
                schema: pa.Schema = TRANSCRIPT_ARROW) -> list[str]:
    """Write rows as ``parts`` parquet files of contiguous chunks, so the
    scan runs one task per core; returns the file paths."""
    os.makedirs(directory, exist_ok=True)
    step = -(-len(rows) // parts) or 1
    files = []
    for i in range(parts):
        files.append(os.path.join(directory, f"part-{i:05d}.parquet"))
        write_rows(rows[i * step:(i + 1) * step], files[-1], schema)
    return files


def fingerprints(rows) -> dict[str, str]:
    """conv_id -> fingerprint, the same string operators.canonicalize builds
    (turn texts in turn_idx order joined by the record separator)."""
    turns = defaultdict(list)
    for conv_id, turn_idx, _role, text, _tool, _ts in rows:
        turns[conv_id].append((turn_idx, text or ""))
    return {c: FINGERPRINT_SEP.join(t for _, t in sorted(ts)) for c, ts in turns.items()}


# --------------------------------------------------------------------------
# linkage-batch
# --------------------------------------------------------------------------

@dataclass
class LinkInputs:
    rows: list
    planted: dict  # dup conv_id -> (base conv_id, n_edits)

    @property
    def n_entities(self) -> int:
        return len({r[0] for r in self.rows})


def gen_link(seed: int, sizes: Sizes) -> LinkInputs:
    rows, planted = gen_transcript_rows(
        n_base=sizes.link_bases, dup_fraction=0.5, max_edits=2, seed=seed
    )
    return LinkInputs(rows, planted)


# --------------------------------------------------------------------------
# pair-scoring
# --------------------------------------------------------------------------

def _edit(rng: random.Random, s: str) -> str:
    i = rng.randrange(len(s) + 1)
    op = rng.randrange(3)
    c = rng.choice(string.ascii_lowercase)
    if op == 0 or i == len(s):
        return s[:i] + c + s[i:]
    if op == 1:
        return s[:i] + s[i + 1:]
    return s[:i] + c + s[i + 1:]


@dataclass
class PairInputs:
    entities: list  # (conv_id, fingerprint)
    pairs: list     # (id_a, id_b); see is_near

    @property
    def n_near(self) -> int:
        return sum(1 for a, b in self.pairs if is_near(a, b))


def family(conv_id: str) -> str:
    return conv_id.split("~", 1)[0]


def is_near(id_a: str, id_b: str) -> bool:
    """Near-duplicate pairs are exactly (base, base~k)."""
    return id_b.startswith(id_a + "~")


def gen_pairs(seed: int, sizes: Sizes) -> PairInputs:
    """Long transcript fingerprints plus 1–2-edit variants of each. The pair
    list mixes (base, variant) near-duplicates, which run the full band DP,
    with unrelated pairs whose lengths differ by at most 2, which pass the
    length prefilter and exit the DP early."""
    rows, _ = gen_transcript_rows(
        n_base=sizes.pair_bases, dup_fraction=0.0, max_edits=2, seed=seed
    )
    fps = fingerprints(rows)
    rng = random.Random(seed * 7919 + 1)
    entities, pairs = [], []
    for cid in sorted(fps):
        fp = fps[cid]
        entities.append((cid, fp))
        for v in range(sizes.pair_near_per_base):
            var = fp
            for _ in range(rng.randint(1, 2)):
                var = _edit(rng, var)
            vid = f"{cid}~{v}"
            entities.append((vid, var))
            pairs.append((cid, vid))
    by_len = sorted(entities, key=lambda e: (len(e[1]), e[0]))
    lens = [len(fp) for _, fp in by_len]
    seen = {frozenset(p) for p in pairs}
    lo = 0
    hi = 0
    for i, (cid, _) in enumerate(by_len):
        while lens[i] - lens[lo] > 2:
            lo += 1
        while hi + 1 < len(by_len) and lens[hi + 1] - lens[i] <= 2:
            hi += 1
        for _ in range(sizes.pair_far_per_entity):
            other = by_len[rng.randint(lo, hi)][0]
            key = frozenset((cid, other))
            if family(other) == family(cid) or key in seen:
                continue
            seen.add(key)
            pairs.append((cid, other))
    rng.shuffle(pairs)
    return PairInputs(entities, pairs)


# --------------------------------------------------------------------------
# stream-linkage
# --------------------------------------------------------------------------

@dataclass
class StreamInputs:
    batches: list  # list of row lists, one parquet file each
    planted: dict

    def convs(self, k: int) -> int:
        return len({r[0] for r in self.batches[k]})


def gen_stream(seed: int, sizes: Sizes) -> StreamInputs:
    """New conversations split into ``stream_batches`` files. Every planted
    duplicate lands in a different batch from its base, so matches must be
    found across batches against the accumulated state."""
    rows, planted = gen_transcript_rows(
        n_base=sizes.stream_bases, dup_fraction=0.5, max_edits=2, seed=seed
    )
    by_conv = defaultdict(list)
    for r in rows:
        by_conv[r[0]].append(r)
    rng = random.Random(seed * 104729 + 3)
    k = sizes.stream_batches
    ids = sorted(by_conv)
    rng.shuffle(ids)
    batch_of = {cid: i % k for i, cid in enumerate(ids)}
    for dup, (base, _) in planted.items():
        if batch_of[dup] == batch_of[base]:
            batch_of[dup] = (batch_of[dup] + 1 + rng.randrange(k - 1)) % k
    batches = [[] for _ in range(k)]
    for cid in sorted(by_conv, key=lambda c: (batch_of[c], c)):
        batches[batch_of[cid]].extend(by_conv[cid])
    return StreamInputs(batches, planted)


# --------------------------------------------------------------------------
# transduce-dict
# --------------------------------------------------------------------------

@dataclass
class DictInputs:
    terms: list
    added: list
    queries: list  # (query_id, term)

    @property
    def all_terms(self) -> list:
        return sorted(set(self.terms) | set(self.added))


def gen_dict(seed: int, sizes: Sizes) -> DictInputs:
    terms = gen_dictionary(n_terms=sizes.dict_terms, seed=seed)
    more = gen_dictionary(n_terms=sizes.dict_terms + sizes.dict_added, seed=seed + 1)
    have = set(terms)
    added = [t for t in more if t not in have][: sizes.dict_added]
    queries = gen_queries(
        sorted(have | set(added)), n_queries=sizes.queries, seed=seed + 2
    )
    return DictInputs(terms, added, queries)
