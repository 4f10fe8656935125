"""Workload inputs and the runs that measure them.

Inputs are generated from the seed with ``synth_transcripts`` and written to
parquet; the engine only ever reads that parquet. Ground truth comes from
``synth_labels`` with the same seed and is used only by the checks, after
timing ends.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.functions.hashing import lsh_candidate_edges
from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.blocking import star_edges
from identity_matching_spark.operators.cc import connected_components
from identity_matching_spark.operators.cluster import (
    build_aliases,
    build_identities,
    reduce_people,
)
from identity_matching_spark.operators.people import (
    build_persons,
    dedup_signatures,
    normalize_signatures,
)
from identity_matching_spark.operators.scoring import score_pairs
from identity_matching_spark.operators.signatures import extract_signatures
from identity_matching_spark.operators.stats import frequency_stats
from identity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from identity_matching_spark.sources.synth import synth_labels, synth_transcripts
from identity_matching_spark.streaming.incremental import IncrementalState, fold_batch

from measure import (
    MemorySampler,
    Tracer,
    clear_storage,
    count_jobs,
    fingerprint,
    pair_quality,
    same_partition,
    tag_jobs,
)

REFERENCE_TIME = dt.datetime(2026, 1, 1)

# Sizes are fixed per workload; only the seed varies between runs. At these
# sizes the engine's per-job driver cost dominates (about 150 jobs per batch
# pass, 120 per fold), which is what the ROADMAP's driver-floor items attack:
# a cold pass over 1k conversations costs two thirds of one over 20k. A run
# times one pass (batch) or one fold in a fresh JVM, 15-40 s on a 4-core
# host, and a whole run must stay near a minute (about fifty runs share one
# hour), so there is no room for an untimed warm-up pass; the corpora are as
# small as the quality floors allow.
WORKLOADS = {
    "exact_batch": {
        "kind": "batch",
        "similarity": False,
        "n_convs": 2_000,
        "n_persons": 100,
        "typo_rate": 0.1,
        "floors": {"precision": 0.99, "recall": 0.75},
    },
    "sim_batch": {
        "kind": "batch",
        "similarity": True,
        "n_convs": 2_000,
        "n_persons": 100,
        "typo_rate": 0.1,
        "floors": {"precision": 0.97, "recall": 0.90},
    },
    "fold_stream": {
        "kind": "fold",
        "n_convs": 1_000,
        "n_persons": 50,
        # exact-mode folds cannot merge a typo'd name; without typos every
        # latent person is recoverable and recall does not vary with the seed
        "typo_rate": 0.0,
        # persons >= old_persons appear only in the timed folds; of the
        # others' conversations a hashed fold_permille slice goes to the
        # warm-up and timed folds and the rest to the bootstrap
        "old_persons": 47,
        "fold_permille": 100,
        "warmup_folds": 1,
        "n_folds": 1,
        "n_buckets": 2,
        "floors": {"precision": 0.99, "recall": 0.99},
    },
}

SPANS = (
    "signatures",
    "stats",
    "people",
    "hashing",
    "scoring",
    "cluster.reduce",
    "cluster.outputs",
    "incremental.fold",
    "cc",
)


# Input generation is repeated this many times in set-up (each into a fresh
# directory, the last one kept) and its median time enters ``setup_s``.
SETUP_REPEATS = 3


class Outcome:
    """What one run measured and whether its outputs held up."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.report: dict[str, object] = {}

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def check(self, ok: bool, what: str, weight: int = 1) -> None:
        """Count ``weight`` attempts, failed unless ``ok``."""
        self.attempted += weight
        if not ok:
            self.failed += weight
            self.failures.append(what)


def _measure(res: Outcome, rep, seconds: float, reps: int | None = None, weight: int = 1):
    """Whole reps of ``rep()`` until ``seconds`` have passed, or exactly
    ``reps`` reps when given. ``rep`` returns (timing, output fingerprint,
    outputs); a rep that raises, or whose fingerprint differs from the first
    rep's, counts ``weight`` failures. Returns (timings, fingerprint, last
    outputs)."""
    timings, first, last = [], None, None
    t_window = time.time()
    while (
        len(timings) < reps if reps else not timings or time.time() - t_window < seconds
    ):
        try:
            timing, fp, last = rep()
        except Exception as exc:  # counted against error_rate, then retried
            res.check(False, f"rep {len(timings) + 1}: {exc!r}", weight)
            if res.failed >= 3 * weight:
                raise
            continue
        timings.append(timing)
        first = first or fp
        res.check(fp == first, f"rep {len(timings)}: outputs differ from rep 1", weight)
    return timings, first, last


def _make_inputs(write, work: str) -> tuple[str, float]:
    """Run ``write(path)`` SETUP_REPEATS times, each into a fresh directory,
    keeping only the last directory. Returns (its path, median seconds)."""
    times, path = [], None
    for i in range(SETUP_REPEATS):
        if path is not None:
            shutil.rmtree(path)
        path = os.path.join(work, f"corpus{i}")
        t0 = time.time()
        write(path)
        times.append(time.time() - t0)
    return path, statistics.median(times)


def _quality_checks(res: Outcome, wl: dict, quality: dict) -> None:
    floors = wl["floors"]
    res.report["quality"] = quality
    res.check(
        quality["precision"] >= floors["precision"]
        and quality["recall"] >= floors["recall"]
        and quality["assigned"] == quality["convs"],
        f"quality below floors {floors}: {quality}",
    )


# --- batch workloads -------------------------------------------------------


def _run_pipeline(spark, transcripts: DataFrame, cfg: PipelineConfig) -> dict[str, DataFrame]:
    """One pass as a user runs it: every output a user receives is
    materialized (the stage outputs are lazy local checkpoints)."""
    out = run_pipeline(spark, transcripts, cfg)
    for name in ("aliases", "identities"):
        out[name].write.format("noop").mode("overwrite").save()
    return out


def _output_prints(out: dict[str, DataFrame]) -> dict[str, str]:
    return {k: fingerprint(out[k]) for k in ("membership", "aliases", "identities")}


def staged_replay(
    spark, tracer: Tracer, transcripts: DataFrame, cfg: PipelineConfig
) -> dict[str, DataFrame]:
    """``run_pipeline`` (no store, no reporter, static popularity) as one
    span per layer. Every stage output is the same lazy local checkpoint the
    pipeline makes, filled inside its own span; the LSH candidates get one
    extra barrier so hashing and scoring separate. The outputs must equal an
    untraced ``run_pipeline`` run, which the caller checks."""
    bl = Blacklist.default()
    with tracer.span("signatures"):
        signatures = tracer.materialize(
            "signatures",
            dedup_signatures(
                extract_signatures(transcripts)
                .where((F.col("name") != "") & (F.col("email") != ""))
                .select("repo", "name", "email", "hash", "ts")
            ),
        )
    cutoff = REFERENCE_TIME - dt.timedelta(days=30 * cfg.recent_months)
    with tracer.span("stats"):
        cleaned = normalize_signatures(signatures)
        name_freqs = tracer.materialize("stats", frequency_stats(cleaned, "name_c", cutoff))
        email_freqs = tracer.materialize("stats", frequency_stats(cleaned, "email_c", cutoff))
    with tracer.span("people"):
        persons = tracer.materialize(
            "people",
            build_persons(signatures, bl, id_strategy=cfg.id_strategy, verify_ids=cfg.verify_ids),
        )
    extra_edges = None
    if cfg.similarity_mode:
        with tracer.span("hashing"):
            cands = tracer.materialize(
                "hashing",
                lsh_candidate_edges(
                    persons,
                    "name",
                    n_perm=cfg.lsh_perms,
                    n_bands=cfg.lsh_bands,
                    shingle_k=cfg.lsh_shingle_k,
                ),
            )
        with tracer.span("scoring"):
            extra_edges = tracer.materialize(
                "scoring",
                score_pairs(persons, cands, name_col="name", jw_threshold=cfg.jw_threshold).select(
                    "src", "dst"
                ),
            )
    with tracer.span("cluster.reduce"):
        membership = tracer.materialize(
            "cluster.reduce",
            reduce_people(
                persons,
                bl,
                max_identities=cfg.max_identities,
                extra_edges=extra_edges,
                verify_keys=cfg.verify_ids,
            ),
        )
    with tracer.span("cluster.outputs"):
        members = persons.join(membership, "id")
        aliases = tracer.materialize("cluster.outputs", build_aliases(members))
        identities = tracer.materialize(
            "cluster.outputs",
            build_identities(
                members, name_freqs, email_freqs, min_recent_count=cfg.min_recent_count
            ),
        )
    return {
        "signatures": signatures,
        "persons": persons,
        "membership": membership,
        "members": members,
        "aliases": aliases,
        "identities": identities,
    }


def trace_cc(tracer: Tracer, persons: DataFrame) -> None:
    """Standalone connected components over the persons' email star edges
    (popular emails excluded, as the clusterer excludes them)."""
    bl = Blacklist.default()
    with tracer.span("cc"):
        usable = persons.where(F.col("email").isNotNull() & ~bl.is_popular_email(F.col("email")))
        edges = star_edges(usable, ["email"])
        tracer.materialize("cc", connected_components(edges, nodes=persons.select("id")))


def run_batch(spark, wl: dict, seed: int, seconds: float, tracer: Tracer | None,
              work: str, jvm_pid: int, t_start: float) -> Outcome:
    res = Outcome()
    cfg = PipelineConfig(reference_time=REFERENCE_TIME, similarity_mode=wl["similarity"])
    session_s = time.time() - t_start
    n, p = wl["n_convs"], wl["n_persons"]
    corpus, inputs_s = _make_inputs(
        synth_transcripts(spark, n, p, seed, wl["typo_rate"]).write.parquet, work
    )
    transcripts = spark.read.parquet(corpus)
    labels = synth_labels(spark, n, p, seed)
    res.report["setup"] = {"session_s": session_s, "inputs_s": inputs_s}
    res.metric("setup_s", session_s + inputs_s, "s")

    def rep():
        clear_storage(spark)
        group = tag_jobs(spark, res)
        t0 = time.time()
        out = _run_pipeline(spark, transcripts, cfg)
        wall = time.time() - t0
        count_jobs(spark, res, group)
        return wall, _output_prints(out), out

    # a traced run makes one untraced rep, for the outputs the traced replay
    # must reproduce and for the tracing overhead
    with MemorySampler(jvm_pid) as mem:
        walls, prints, last = _measure(res, rep, seconds, reps=1 if tracer else None)
    res.report["membership_fingerprint"] = prints["membership"]
    res.report["reps_s"] = walls
    t_checks = time.time()
    quality = pair_quality(transcripts, labels, last["members"])
    _quality_checks(res, wl, quality)
    res.report["checks_s"] = time.time() - t_checks
    res.metric("wall_s", statistics.median(walls), "s")
    res.metric("fold_p50_s", statistics.median(walls), "s")
    res.metric("peak_pss_mb", mem.peak / 2**20, "MB")
    res.metric("pair_precision", quality["precision"], "ratio")
    res.metric("pair_recall", quality["recall"], "ratio")

    if tracer is not None:
        clear_storage(spark)
        t0 = time.time()
        traced = staged_replay(spark, tracer, transcripts, cfg)
        res.report["traced_wall_s"] = time.time() - t0
        res.report["untraced_wall_s"] = walls[-1]
        res.check(_output_prints(traced) == prints, "traced replay outputs differ from run_pipeline")
        trace_cc(tracer, traced["persons"])
        res.report["components"] = traced["membership"].select("component").distinct().count()
    return res


# --- fold workload ---------------------------------------------------------


def _fold_corpus(spark, wl: dict, seed: int) -> DataFrame:
    """Corpus split into part 0 (the bootstrap), parts 1..warmup_folds (folded
    in set-up) and the n_folds timed parts after them. The timed folds mix
    conversations of persons the state already holds with those of persons
    it has never seen."""
    n, p = wl["n_convs"], wl["n_persons"]
    w, k = wl["warmup_folds"], wl["n_folds"]
    labels = synth_labels(spark, n, p, seed)
    r = F.pmod(F.xxhash64(F.lit(seed), "conv_id"), F.lit(1000))
    h = F.xxhash64(F.lit(seed + 1), "conv_id")
    part = (
        F.when(F.col("person") >= wl["old_persons"], F.pmod(h, F.lit(k)) + w + 1)
        .when(r < wl["fold_permille"], F.pmod(h, F.lit(w + k)) + 1)
        .otherwise(F.lit(0))
    )
    return synth_transcripts(spark, n, p, seed, wl["typo_rate"]).join(
        labels.select("conv_id", part.alias("part")), "conv_id"
    )


def _signatures_of(spark, corpus: str, part: int) -> DataFrame:
    sigs = extract_signatures(spark.read.parquet(f"{corpus}/part={part}"))
    return dedup_signatures(
        sigs.where((F.col("name") != "") & (F.col("email") != "")).select(
            "repo", "name", "email", "hash", "ts"
        )
    )


def _fold_write_stats(state: IncrementalState, batch_id: int) -> tuple[int, float]:
    """(bytes written, share of table buckets rewritten) by the commit of
    ``batch_id``, read from the manifest and the leaves it names."""
    rewritten, written = 0, 0
    for table in state.TABLES:
        for bucket, gen in state._manifest["tables"][table].items():
            if gen != batch_id:
                continue
            rewritten += 1
            for dirpath, _, files in os.walk(state._leaf(table, int(bucket), gen)):
                written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return written, rewritten / (len(state.TABLES) * state.n_buckets)


def _fold_rep(spark, wl: dict, corpus: str, state0: str, root: str, tracer: Tracer | None):
    """Fold every timed batch, in order, into a fresh copy of the
    bootstrapped state: the per-micro-batch calls of
    ``run_incremental_resolution`` (signatures → persons → ``fold_batch``).
    Storage is not released between folds, as in a streaming query.
    Returns (state, per-fold latencies, per-fold write stats)."""
    shutil.copytree(state0, root)
    state = IncrementalState(spark, root, n_buckets=wl["n_buckets"])
    bl = Blacklist.default()
    lat, writes = [], []
    first = wl["warmup_folds"] + 1
    for batch_id in range(first, first + wl["n_folds"]):
        t0 = time.time()
        if tracer is None:
            delta = build_persons(_signatures_of(spark, corpus, batch_id), bl)
            fold_batch(state, delta, bl, batch_id=batch_id)
        else:
            with tracer.span("signatures"):
                sigs = tracer.materialize("signatures", _signatures_of(spark, corpus, batch_id))
            with tracer.span("people"):
                delta = tracer.materialize("people", build_persons(sigs, bl))
            with tracer.span("incremental.fold"):
                fold_batch(state, delta, bl, batch_id=batch_id)
        lat.append(time.time() - t0)
        writes.append(_fold_write_stats(state, batch_id))
    return state, lat, writes


def run_fold(spark, wl: dict, seed: int, seconds: float, tracer: Tracer | None,
             work: str, jvm_pid: int, t_start: float) -> Outcome:
    res = Outcome()
    bl = Blacklist.default()
    k = wl["n_folds"]
    session_s = time.time() - t_start
    corpus, inputs_s = _make_inputs(
        _fold_corpus(spark, wl, seed).write.partitionBy("part").parquet, work
    )
    labels = synth_labels(spark, wl["n_convs"], wl["n_persons"], seed)
    setup = {"session_s": session_s, "inputs_s": inputs_s}
    t0 = time.time()
    state0 = os.path.join(work, "state0")
    boot = IncrementalState(spark, state0, n_buckets=wl["n_buckets"])
    fold_batch(boot, build_persons(_signatures_of(spark, corpus, 0), bl), bl, batch_id=0)
    setup["bootstrap_s"] = time.time() - t0
    # untimed folds through the incremental path: without them the timed
    # fold pays that path's first-call JIT and codegen cost, which varies by
    # a fifth from run to run
    t0 = time.time()
    for batch_id in range(1, wl["warmup_folds"] + 1):
        delta = build_persons(_signatures_of(spark, corpus, batch_id), bl)
        fold_batch(boot, delta, bl, batch_id=batch_id)
    setup["warmup_s"] = time.time() - t0
    res.report["setup"] = setup
    res.metric("setup_s", sum(setup.values()), "s")

    reps = 0

    def rep():
        nonlocal reps
        reps += 1
        clear_storage(spark)
        root = os.path.join(work, f"state_rep{reps}")
        group = tag_jobs(spark, res)
        state, lat, _ = _fold_rep(spark, wl, corpus, state0, root, None)
        count_jobs(spark, res, group)
        return lat, fingerprint(state.read("membership")), state

    with MemorySampler(jvm_pid) as mem:
        lats, prints, state = _measure(
            res, rep, seconds, reps=1 if tracer else None, weight=k
        )
    folds = [x for lat in lats for x in lat]
    res.report["membership_fingerprint"] = prints
    res.report["folds_s"] = folds

    t_checks = time.time()
    membership = state.read("membership")
    silver = state.read("persons_silver")
    members = silver.join(membership.select("id", "component"), "id")
    folded = spark.read.parquet(corpus).drop("part")
    quality = pair_quality(folded, labels, members)
    _quality_checks(res, wl, quality)
    res.report["quality_s"] = time.time() - t_checks
    if tracer is None:
        scratch = reduce_people(silver, bl, max_identities=20)
    else:
        with tracer.span("cluster.reduce"):
            scratch = tracer.materialize("cluster.reduce", reduce_people(silver, bl, max_identities=20))
        res.report["components"] = scratch.select("component").distinct().count()
        trace_cc(tracer, silver)
    res.check(
        same_partition(membership, scratch),
        "folded membership differs from a from-scratch reduce_people",
    )
    res.report["checks_s"] = time.time() - t_checks
    res.metric("wall_s", statistics.median(sum(lat) for lat in lats), "s")
    res.metric("fold_p50_s", statistics.median(folds), "s")
    res.metric("peak_pss_mb", mem.peak / 2**20, "MB")
    res.metric("pair_precision", quality["precision"], "ratio")
    res.metric("pair_recall", quality["recall"], "ratio")

    if tracer is not None:
        clear_storage(spark)
        traced, traced_lat, writes = _fold_rep(
            spark, wl, corpus, state0, os.path.join(work, "state_traced"), tracer
        )
        res.check(
            fingerprint(traced.read("membership")) == prints,
            "traced folds' membership differs from untraced",
            weight=k,
        )
        tracer.rows["incremental.fold"] = traced.read("membership").count()
        res.report["traced_wall_s"] = sum(traced_lat)
        res.report["untraced_wall_s"] = sum(lats[-1])
        res.report["incremental.bytes_written"] = statistics.mean(w for w, _ in writes)
        res.report["incremental.buckets_rewritten_share"] = statistics.mean(s for _, s in writes)
    return res
