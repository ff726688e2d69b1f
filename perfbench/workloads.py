"""The four workloads. Each one stages its seeded inputs, then repeats an
operation (the first ones as set-up, the rest timed); ``finish`` runs the
output checks that are too slow to repeat, and ``traced`` calls each layer's
public functions one at a time under a span, materializing every layer's
output before the next layer starts.

Only public functions of ``liblevenshtein_spark`` are called; the streaming
workload additionally wraps ``sources.staging.staged_append`` as bound in
``streaming.incremental`` to time the state appends from outside."""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

import checks
import inputs
from tracing import Stopwatch
from liblevenshtein_spark import LinkConfig
from liblevenshtein_spark.functions.blocking import deletion_neighborhood
from liblevenshtein_spark.kernels.banded import batch_banded_distance_arrow
from liblevenshtein_spark.operators.candidates import block_keys, candidate_pairs
from liblevenshtein_spark.operators.canonicalize import canonicalize
from liblevenshtein_spark.operators.clustering import assign_clusters
from liblevenshtein_spark.operators.scoring import (
    attach_texts,
    match_filter,
    score_attached,
    score_pairs,
)
from liblevenshtein_spark.operators.transduce import add_terms, compile_dictionary, transduce
from liblevenshtein_spark.plans.pipeline import run_linkage
from liblevenshtein_spark.sources.tables import read_transcripts
from liblevenshtein_spark.streaming import incremental
from liblevenshtein_spark.streaming import (
    matches_from_sink,
    start_incremental_linkage,
    stream_transcripts,
)

ARROW_BATCH = 10_000  # the session's spark.sql.execution.arrow.maxRecordsPerBatch
BARE_KERNEL_PAIRS = 40_000
ORACLE_SAMPLE = 10
TRANSDUCE_SAMPLE = 4


def ckpt(df):
    return df.localCheckpoint(eager=True)


def assignment_digest(rows) -> str:
    return inputs.digest(sorted((r["conv_id"], r["cluster_id"]) for r in rows))


def bare_kernel_rate(attached, conf: LinkConfig, seed: int) -> float:
    """Pairs per second of ``batch_banded_distance_arrow`` called in this
    process (one core) on up to BARE_KERNEL_PAIRS of the feasible attached
    pairs, fed in the same Arrow batch size the session uses."""
    n = conf.max_distance
    feasible = attached.filter(
        F.abs(F.length("text_a") - F.length("text_b")) <= n
    ).select("text_a", "text_b")
    total = feasible.count()
    if total > BARE_KERNEL_PAIRS:
        feasible = feasible.sample(fraction=BARE_KERNEL_PAIRS / total, seed=seed)
    table = feasible.toArrow()
    if table.num_rows == 0:
        return 0.0
    batches = table.to_batches(max_chunksize=ARROW_BATCH)
    t0 = time.perf_counter()
    for b in batches:
        batch_banded_distance_arrow(b.column(0), b.column(1), n, conf.algorithm, conf.units)
    return table.num_rows / (time.perf_counter() - t0)


class Workload:
    name = ""
    work_unit = ""
    # spark.sql.shuffle.partitions per core: two keeps batch tasks busy
    # while one waits; micro-batches are so small that per-task overhead
    # dominates, and one per core halves their latency on a 4-core host.
    partitions_per_core = 2
    # the workload's own names for the shared end-to-end metrics
    aliases: dict[str, str] = {}
    # Untimed operations that belong to set-up. The first compiles the plan
    # shapes and starts the Python workers; the JVM then keeps compiling,
    # each operation costing less CPU than the one before, until the cost
    # levels off. Timing on that slope measures how fast the JIT caught up
    # on the host, so each workload warms up until its cost is level.
    warmup_ops = 2

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.dir = os.path.join(run.work, "inputs")
        self.rng = random.Random(run.seed * 31 + 17)

    def rate(self, ops: list[dict]) -> float:
        """Work items per second: the median over timed operations."""
        return statistics.median(o["work"] / o["s"] for o in ops)

    def cpu_rate(self, ops: list[dict]) -> float:
        """Work items per CPU-second of the process tree: the median over
        timed operations."""
        return statistics.median(o["work"] / o["cpu_s"] for o in ops)

    def stop(self) -> None:
        """End any streaming query the workload started."""

    def stream_groups(self) -> set[str]:
        """Job groups of the streaming queries the workload ran."""
        return set()

    def check(self, found: list[str]) -> None:
        """Record one attempted check; ``found`` lists its problems."""
        self.run.attempted += 1
        if found:
            self.run.failed += 1
            self.run.problems.extend(found)


# --------------------------------------------------------------------------

class LinkageBatch(Workload):
    """run_linkage with the default LinkConfig, parquet scan to clusters."""

    name = "linkage-batch"
    work_unit = "entities"
    aliases = {"work_per_s": "link_entities_per_s", "recall": "planted_recall"}
    # On a 4-core host a call's CPU falls by half over its first ten calls
    # and then stays within about 10 %.
    warmup_ops = 10

    def __init__(self, run):
        super().__init__(run)
        self.conf = LinkConfig()
        self.path = os.path.join(self.dir, "transcripts")
        self.digests: list[str] = []
        self.stream: StreamLinkage | None = None

    def stage(self) -> str:
        self.data = inputs.gen_link(self.run.seed, self.run.sizes)
        inputs.write_parts(self.data.rows, self.path, self.run.nproc)
        self.fps = inputs.fingerprints(self.data.rows)
        return inputs.digest(self.data.rows)

    def sizes(self) -> dict:
        return {"entities": self.data.n_entities, "turn_rows": len(self.data.rows),
                "planted_duplicates": len(self.data.planted)}

    def _call(self):
        res = run_linkage(read_transcripts(self.spark, self.path), self.conf)
        return res.clusters.collect()

    def op(self) -> dict:
        with Stopwatch() as sw:
            rows = self._call()
        assignment = {r["conv_id"]: r["cluster_id"] for r in rows}
        self.recall, _ = checks.planted_recall(assignment, self.data.planted)
        self.clusters = len(set(assignment.values()))
        self.digests.append(assignment_digest(rows))
        found = checks.check_planted(assignment, self.data.planted)
        if len(rows) != self.data.n_entities:
            found.append(f"clustered {len(rows)} entities, expected {self.data.n_entities}")
        self.check(found)
        return {"s": sw.s, "cpu_s": sw.cpu_s, "jit_s": sw.jit_s, "work": len(rows)}

    def finish(self, ops: list[dict]) -> dict:
        self.check(checks.check_same("cluster-assignment digest", self.digests))
        res = run_linkage(read_transcripts(self.spark, self.path), self.conf)
        matches = sorted(tuple(r) for r in res.matches.select("id_a", "id_b", "distance").collect())
        sample = self.rng.sample(matches, min(ORACLE_SAMPLE, len(matches)))
        self.check(checks.check_match_sample(sample, self.fps, self.conf.max_distance,
                                                self.conf.algorithm))
        return {"recall": self.recall, "digest": self.digests[0],
                "matches": len(matches), "clusters": self.clusters}

    def traced(self, plain_s: float) -> dict:
        tr, conf, n = self.run.tracer, self.conf, self.conf.max_distance
        t0 = time.perf_counter()
        with tr.span("sources"):
            t = ckpt(read_transcripts(self.spark, self.path))
        with tr.span("canonicalize"):
            c = ckpt(canonicalize(t, conf.fingerprint_sep))
        with tr.span("candidates.block_keys"):
            build, probe = block_keys(c, conf)
            build, probe = ckpt(build), ckpt(probe)
        with tr.span("candidates.pairs"):
            pairs = ckpt(candidate_pairs(build, probe, conf))
        with tr.span("scoring.attach"):
            attached = ckpt(attach_texts(pairs, c))
        with tr.span("scoring.kernel"):
            scored = ckpt(score_attached(attached, conf))
        with tr.span("clustering"):
            rows = assign_clusters(c, match_filter(scored, conf)).collect()
        traced_s = time.perf_counter() - t0
        self.check(checks.check_same("cluster-assignment digest (traced)",
                                        [self.digests[0], assignment_digest(rows)]))
        n_pairs = pairs.count()
        feasible = scored.count()
        matches = scored.filter(F.col("distance") <= n).count()
        rate = bare_kernel_rate(attached, conf, self.run.seed)
        return {
            "sources.scan_s": tr.seconds("sources"),
            "sources.rows": t.count(),
            "canonicalize.s": tr.seconds("canonicalize"),
            "canonicalize.entities": c.count(),
            "candidates.block_keys_s": tr.seconds("candidates.block_keys"),
            "candidates.pairs_s": tr.seconds("candidates.pairs"),
            "candidates.keys": build.count() + probe.count(),
            "candidates.pairs": n_pairs,
            "candidates.jobs": tr.jobs("candidates.block_keys", "candidates.pairs"),
            "candidates.match_yield": matches / n_pairs if n_pairs else 0.0,
            "scoring.attach_s": tr.seconds("scoring.attach"),
            "scoring.kernel_s": tr.seconds("scoring.kernel"),
            "scoring.pairs_feasible": feasible,
            "scoring.sentinel_frac": scored.filter(F.col("distance") == n + 1).count()
            / feasible if feasible else 0.0,
            "kernel.pairs_per_s_core": rate,
            "clustering.s": tr.seconds("clustering"),
            "clustering.edges": matches,
            "clustering.clusters": len({r["cluster_id"] for r in rows}),
            "clustering.jobs": tr.jobs("clustering"),
            "trace.overhead_s": traced_s - plain_s,
            **self._trace_stream(),
        }

    def _trace_stream(self) -> dict:
        """The streaming layer's metrics, from a stream-linkage leg run after
        the batch layers. The stream is not among the workloads a comparison
        runs (see README.md), so its layer is traced here, on the same
        layers run as small micro-batches, and its output checked."""
        self.spark.conf.set("spark.sql.shuffle.partitions",
                            str(StreamLinkage.partitions_per_core * self.run.nproc))
        self.stream = leg = StreamLinkage(self.run)
        leg.stage()
        for _ in range(leg.warmup_ops):
            leg.op()
        out = leg.traced(0.0)
        leg.finish([])
        del out["trace.overhead_s"]
        return out

    def stop(self) -> None:
        if self.stream is not None:
            self.stream.stop()

    def stream_groups(self) -> set[str]:
        return self.stream.stream_groups() if self.stream is not None else set()


# --------------------------------------------------------------------------

class PairScoring(Workload):
    """score_pairs over a seeded list of near and far pairs."""

    name = "pair-scoring"
    work_unit = "pairs"
    aliases = {"work_per_s": "score_pairs_per_s"}

    def __init__(self, run):
        super().__init__(run)
        self.conf = LinkConfig()
        self.pairs_path = os.path.join(self.dir, "pairs")
        self.ents_path = os.path.join(self.dir, "entities")
        self.totals: list[tuple] = []

    def stage(self) -> str:
        self.data = inputs.gen_pairs(self.run.seed, self.run.sizes)
        files = []
        for path, rows, schema in (
            (self.pairs_path, self.data.pairs, inputs.PAIR_ARROW),
            (self.ents_path, self.data.entities, inputs.ENTITY_ARROW),
        ):
            files += inputs.write_parts(rows, path, self.run.nproc, schema)
        self.n_near = self.data.n_near
        return inputs.file_digest(files)

    def sizes(self) -> dict:
        return {"entities": len(self.data.entities), "pairs": len(self.data.pairs),
                "near_pairs": self.n_near}

    def _frames(self):
        read = self.spark.read.parquet
        return read(self.pairs_path), read(self.ents_path)

    def _totals(self, scored) -> dict:
        n = self.conf.max_distance
        near = F.expr("startswith(id_b, concat(id_a, '~'))")
        r = scored.agg(
            F.count("*").alias("pairs"),
            F.sum("distance").alias("distance_sum"),
            F.sum(F.when(near & (F.col("distance") <= n), 1).otherwise(0)).alias("near_within"),
            F.sum(F.when(F.col("distance") == n + 1, 1).otherwise(0)).alias("sentinel"),
        ).collect()[0]
        return r.asDict()

    def op(self) -> dict:
        with Stopwatch() as sw:
            pairs, ents = self._frames()
            tot = self._totals(score_pairs(pairs, ents, self.conf))
        self.totals.append((tot["pairs"], tot["distance_sum"], tot["sentinel"]))
        self.near_recall = tot["near_within"] / self.n_near if self.n_near else 1.0
        self.check(checks.check_pair_totals(tot, len(self.data.pairs), self.n_near))
        return {"s": sw.s, "cpu_s": sw.cpu_s, "jit_s": sw.jit_s, "work": tot["pairs"]}

    def finish(self, ops: list[dict]) -> dict:
        self.check(checks.check_same("distance count and sum", self.totals))
        near = [p for p in self.data.pairs if inputs.is_near(*p)]
        far = [p for p in self.data.pairs if not inputs.is_near(*p)]
        k = ORACLE_SAMPLE // 2
        sample = self.rng.sample(near, min(k, len(near))) + self.rng.sample(far, min(k, len(far)))
        _, ents = self._frames()
        got = score_pairs(self.spark.createDataFrame(sample, "id_a string, id_b string"),
                          ents, self.conf).collect()
        texts = dict(self.data.entities)
        scored = [(r["id_a"], r["id_b"], texts[r["id_a"]], texts[r["id_b"]], r["distance"])
                  for r in got]
        missing = [f"sampled pair {p} not scored" for p in
                   set(sample) - {(r["id_a"], r["id_b"]) for r in got}]
        self.check(missing + checks.check_pair_sample(
            scored, self.conf.max_distance, self.conf.algorithm))
        pairs, d_sum, sentinel = self.totals[0]
        return {"recall": self.near_recall, "distance_sum": d_sum,
                "sentinel_frac": sentinel / pairs if pairs else 0.0}

    def traced(self, plain_s: float) -> dict:
        tr, conf = self.run.tracer, self.conf
        t0 = time.perf_counter()
        with tr.span("sources"):
            pairs, ents = (ckpt(f) for f in self._frames())
        with tr.span("scoring.attach"):
            attached = ckpt(attach_texts(pairs, ents))
        with tr.span("scoring.kernel"):
            scored = ckpt(score_attached(attached, conf))
        traced_s = time.perf_counter() - t0
        tot = self._totals(scored)
        self.check(checks.check_same(
            "distance count and sum (traced)",
            [self.totals[0], (tot["pairs"], tot["distance_sum"], tot["sentinel"])]))
        rate = bare_kernel_rate(attached, conf, self.run.seed)
        return {
            "sources.scan_s": tr.seconds("sources"),
            "sources.rows": pairs.count() + ents.count(),
            "scoring.attach_s": tr.seconds("scoring.attach"),
            "scoring.kernel_s": tr.seconds("scoring.kernel"),
            "scoring.pairs_feasible": tot["pairs"],
            "scoring.sentinel_frac": tot["sentinel"] / tot["pairs"] if tot["pairs"] else 0.0,
            "kernel.pairs_per_s_core": rate,
            "trace.overhead_s": traced_s - plain_s,
        }


# --------------------------------------------------------------------------

class StreamLinkage(Workload):
    """start_incremental_linkage fed one new file per micro-batch by a
    closed-loop feeder: the next file appears only after the previous
    micro-batch has committed."""

    name = "stream-linkage"
    work_unit = "conversations"
    aliases = {"work_per_s": "stream_convs_per_s", "op_p50_ms": "microbatch_p50_ms",
               "op_tail_ms": "microbatch_tail_ms"}
    partitions_per_core = 1
    warmup_ops = 3

    def __init__(self, run):
        super().__init__(run)
        # the documented setting for micro-batches that sit far below the
        # hot-key threshold (config.LinkConfig.skew_probe)
        self.conf = LinkConfig(skew_probe=False)
        self.staged = os.path.join(self.dir, "batches")
        self.source = os.path.join(run.work, "stream_source")
        self.state = os.path.join(run.work, "stream_state")
        self.fed = 0
        self.query = None
        self.progress: list[dict] = []
        self.append_s = 0.0
        self.appends = 0
        self.wrap_appends = False

    def stage(self) -> str:
        self.data = inputs.gen_stream(self.run.seed, self.run.sizes)
        shutil.rmtree(self.staged, ignore_errors=True)
        os.makedirs(self.staged)
        for k, rows in enumerate(self.data.batches):
            inputs.write_rows(rows, os.path.join(self.staged, f"b{k:05d}.parquet"))
        return inputs.digest(self.data.batches)

    def sizes(self) -> dict:
        return {"conversations": sum(self.data.convs(k) for k in range(len(self.data.batches))),
                "batches_available": len(self.data.batches),
                "planted_duplicates": len(self.data.planted)}

    def _start(self) -> None:
        os.makedirs(self.source, exist_ok=True)
        orig = self._orig_append = incremental.staged_append

        def timed_append(df, path, single_file=True):
            if not self.wrap_appends:
                return orig(df, path, single_file)
            t0 = time.perf_counter()
            try:
                return orig(df, path, single_file)
            finally:
                self.append_s += time.perf_counter() - t0
                self.appends += 1

        if self.run.trace:
            incremental.staged_append = timed_append
        self.query = start_incremental_linkage(
            stream_transcripts(self.spark, self.source, max_files_per_trigger=1),
            self.conf, self.state, trigger_available_now=False,
        )

    def more(self) -> bool:
        return self.fed < len(self.data.batches)

    def op(self) -> dict:
        if self.query is None:
            self._start()
        k = self.fed
        name = f"b{k:05d}.parquet"
        with Stopwatch() as sw:
            os.replace(os.path.join(self.staged, name), os.path.join(self.source, name))
            self.query.processAllAvailable()
        self.fed += 1
        done = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        self.progress.append(done[-1]["durationMs"] if done else {})
        return {"s": sw.s, "cpu_s": sw.cpu_s, "jit_s": sw.jit_s, "work": self.data.convs(k)}

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            incremental.staged_append = self._orig_append

    def stream_groups(self) -> set[str]:
        return {str(self.query.runId)} if self.query is not None else set()

    def rate(self, ops: list[dict]) -> float:
        """Conversations per second of stream time."""
        return sum(o["work"] for o in ops) / sum(o["s"] for o in ops)

    def _fed_ids(self) -> dict:
        return {r[0]: k for k in range(self.fed) for r in self.data.batches[k]}

    def finish(self, ops: list[dict]) -> dict:
        self.stop()
        sink = {tuple(r) for r in matches_from_sink(self.spark, self.state).collect()}
        ref = run_linkage(read_transcripts(self.spark, self.source), self.conf)
        want = {tuple(r) for r in ref.matches.select("id_a", "id_b", "distance").collect()}
        self.check(checks.check_match_sets(sink, want, "stream sink vs run_linkage"))
        batch_of = self._fed_ids()
        cross = sum(1 for a, b, _ in want if batch_of[a] != batch_of[b])
        return {"recall": len(sink & want) / len(want) if want else 1.0,
                "matches": len(sink), "cross_batch_matches": cross,
                "batches_fed": self.fed}

    def traced(self, plain_s: float) -> dict:
        """Micro-batches alternate between timing the state appends and
        not; the latency difference between the two halves is the trace
        overhead."""
        lat = {True: [], False: []}
        first = len(self.progress)
        deadline = time.perf_counter() + self.run.seconds
        while self.more() and (time.perf_counter() < deadline or not lat[True]):
            self.wrap_appends = self.fed % 2 == 1
            lat[self.wrap_appends].append(self.op()["s"])
        self.wrap_appends = False
        progress = self.progress[first:]
        jobs = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(
            str(self.query.runId)))
        self.stop()
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        out = {f"streaming.{k}_ms": med([p.get(k, 0) for p in progress])
               for k in ("addBatch", "queryPlanning", "walCommit", "triggerExecution")}
        out.update({
            "streaming.jobs_per_batch": jobs / (self.fed or 1),
            "streaming.state_key_rows": self.spark.read.parquet(
                os.path.join(self.state, "dict_keys")).count(),
            "streaming.matches": matches_from_sink(self.spark, self.state).count(),
            "sources.append_s": self.append_s,
            "sources.appends": self.appends,
            "trace.overhead_s": (med(lat[True]) - med(lat[False])) * len(lat[True]),
        })
        return out


# --------------------------------------------------------------------------

class TransduceDict(Workload):
    """compile_dictionary + add_terms (writes) and transduce (reads)."""

    name = "transduce-dict"
    work_unit = "queries"
    aliases = {"work_per_s": "transduce_queries_per_s"}
    # A round's CPU keeps falling through its first dozen rounds, by a
    # third in all, most of it in the first eight.
    warmup_ops = 8

    def __init__(self, run):
        super().__init__(run)
        self.conf = LinkConfig(blocking_scheme="deletions")
        self.paths = {k: os.path.join(self.dir, k) for k in ("terms", "added", "queries")}
        self.hit_digests: list[str] = []

    def stage(self) -> str:
        self.data = inputs.gen_dict(self.run.seed, self.run.sizes)
        for key, rows, schema in (
            ("terms", [(t,) for t in self.data.terms], inputs.TERM_ARROW),
            ("added", [(t,) for t in self.data.added], inputs.TERM_ARROW),
            ("queries", self.data.queries, inputs.QUERY_ARROW),
        ):
            inputs.write_parts(rows, self.paths[key], self.run.nproc, schema)
        return inputs.digest([self.data.terms, self.data.added, self.data.queries])

    def sizes(self) -> dict:
        return {"terms": len(self.data.terms), "terms_added": len(self.data.added),
                "queries": len(self.data.queries)}

    def _read(self, key):
        return self.spark.read.parquet(self.paths[key])

    def _round(self, span):
        """One dictionary round: compile, add a batch of terms, answer the
        queries. Returns (dictionary, hits, per-step stopwatches)."""
        steps = [Stopwatch() for _ in range(3)]
        with steps[0], span("transduce.compile"):
            compiled = ckpt(compile_dictionary(self._read("terms"), self.conf))
        with steps[1], span("transduce.add_terms"):
            full = ckpt(add_terms(compiled, self._read("added"), self.conf))
        with steps[2], span("transduce.query"):
            rows = transduce(self._read("queries"), full, self.conf).collect()
        hits = {(r["query_id"], r["candidate"], r["distance"]) for r in rows}
        return full, hits, steps

    def op(self) -> dict:
        _, hits, steps = self._round(lambda _name: contextlib.nullcontext())
        self.hits = hits
        self.hit_digests.append(inputs.digest(sorted(hits)))
        self.check(checks.check_exact_queries(hits, self.data.queries,
                                                 set(self.data.all_terms)))
        return {"s": sum(w.s for w in steps), "cpu_s": sum(w.cpu_s for w in steps),
                "jit_s": sum(w.jit_s for w in steps),
                "work": len(self.data.queries), "compile_s": steps[0].s + steps[1].s,
                "query_s": steps[2].s}

    def rate(self, ops: list[dict]) -> float:
        """Queries per second of the transduce step."""
        return len(self.data.queries) / statistics.median(o["query_s"] for o in ops)

    def finish(self, ops: list[dict]) -> dict:
        self.check(checks.check_same("transduce hit set", self.hit_digests))
        # each brute-force query runs the recursive oracle against every term
        sample = self.rng.sample(self.data.queries, min(TRANSDUCE_SAMPLE, len(self.data.queries)))
        want = checks.expected_transduce(sample, self.data.all_terms,
                                         self.conf.max_distance, self.conf.algorithm)
        self.check(checks.check_transduce(self.hits, sample, want))
        terms = set(self.data.all_terms)
        expected = want | {(q, t, 0) for q, t in self.data.queries if t in terms}
        compile_s = statistics.median(o["compile_s"] for o in ops)
        compiled = len(self.data.terms) + len(self.data.added)
        return {"recall": len(expected & self.hits) / len(expected) if expected else 1.0,
                "hits": len(self.hits),
                "extra": {"compile_terms_per_s": {"value": compiled / compile_s,
                                                  "unit": "1/s"}}}

    def traced(self, plain_s: float) -> dict:
        tr, conf = self.run.tracer, self.conf
        full, hits, steps = self._round(tr.span)
        traced_s = sum(w.s for w in steps)
        self.check(checks.check_same("transduce hit set (traced)",
                                        [self.hit_digests[0], inputs.digest(sorted(hits))]))
        depth = conf.effective_deletion_depth
        cands = (
            self._read("queries")
            .select("query_id", F.explode(deletion_neighborhood("term", depth)).alias("block_key"))
            .join(full, "block_key")
            .dropDuplicates(["query_id", "candidate"])
            .count()
        )
        nq = len(self.data.queries)
        return {
            "transduce.compile_s": steps[0].s,
            "transduce.add_terms_s": steps[1].s,
            "transduce.query_s": steps[2].s,
            "transduce.dict_key_rows": full.count(),
            "transduce.candidates_per_query": cands / nq,
            "transduce.hit_yield": len(hits) / cands if cands else 0.0,
            "trace.overhead_s": traced_s - plain_s,
        }


WORKLOADS = {w.name: w for w in (LinkageBatch, PairScoring, StreamLinkage, TransduceDict)}
