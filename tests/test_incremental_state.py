"""IncrementalState store: reader safety, schema-pinned reads, the manifest's
exact-mode marker and the tagged bucket collect of ``fold_batch``."""

import glob
import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.streaming.incremental import (
    IncrementalState,
    _collect_buckets,
    fold_batch,
)
from tests.test_round5_fixes import _full_persons, _member_set
from tests.test_round6_opts import _corpus


def _leaves(root, gen):
    return sorted(glob.glob(os.path.join(str(root), "*", "bucket=*", f"gen={gen}")))


def test_reader_open_mid_commit_keeps_writer_leaves(spark, tmp_path, monkeypatch):
    """A handle opened while the writer sits between writing its gen=<b>
    leaves and replacing the manifest must not delete those leaves: the
    published manifest would then name missing generations."""
    bl = Blacklist.testing()
    rows = _corpus(10)
    delta = [(900, "fresh 0", "g0@x.com"), (901, "fresh 1", "new@x.com")]
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)

    orig_replace = os.replace
    seen = {}

    def replace_after_reader_open(src, dst):
        if dst.endswith("state_manifest.json"):
            seen["written"] = _leaves(tmp_path, 1)
            reader = IncrementalState(spark, str(tmp_path), n_buckets=8)
            assert reader.committed_batch() == 0
            seen["after_open"] = _leaves(tmp_path, 1)
        return orig_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace_after_reader_open)
    fold_batch(state, _full_persons(spark, delta), bl, batch_id=1)
    monkeypatch.setattr(os, "replace", orig_replace)

    assert seen["written"], "the writer wrote no gen=1 leaves"
    assert seen["after_open"] == seen["written"]
    reopened = IncrementalState(spark, str(tmp_path), n_buckets=8)
    for table, gens in reopened._manifest["tables"].items():
        for bucket, gen in gens.items():
            assert os.path.isdir(reopened._leaf(table, int(bucket), gen))
    want = reduce_people(_full_persons(spark, rows + delta), bl, max_identities=20)
    assert _member_set(reopened.read("membership")) == _member_set(want)


def test_reads_submit_no_jobs_and_keep_committed_schema(spark, tmp_path):
    """Reads take the schema the manifest stores: no schema-inference job,
    and every table comes back with its committed columns and types."""
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path), n_buckets=4)
    fold_batch(state, _full_persons(spark, _corpus(6)), bl, batch_id=0)
    sc = spark.sparkContext
    group = f"state-reads-{os.getpid()}-{id(state)}"
    sc.setJobGroup(group, "IncrementalState reads")
    try:
        frames = {}
        for table in state.TABLES:
            frames[table] = (
                state.read(table),
                state.read_buckets(table, list(range(state.n_buckets))),
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    manifest = json.load(open(state.manifest_path))
    for table, (full, some) in frames.items():
        committed = StructType.fromJson(json.loads(manifest["schemas"][table]))
        want = [(f.name, f.dataType) for f in committed.fields]
        assert [(f.name, f.dataType) for f in full.schema.fields] == want, table
        assert [(f.name, f.dataType) for f in some.schema.fields] == want, table
        assert full.count() == some.count() > 0


def test_commit_records_given_exact_mode(spark, tmp_path):
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path), n_buckets=4)
    fold_batch(state, _full_persons(spark, _corpus(4)), bl, batch_id=0)
    assert IncrementalState(spark, str(tmp_path), n_buckets=4).exact_mode()
    everything = list(range(state.n_buckets))
    state.commit(
        1, {t: (state.read(t), everything) for t in state.TABLES}, exact_mode=False
    )
    reopened = IncrementalState(spark, str(tmp_path), n_buckets=4)
    assert not reopened.exact_mode()
    # the next fold probes membership once, then records the marker again
    fold_batch(reopened, _full_persons(spark, [(900, "fresh 0", "g0@x.com")]), bl, batch_id=2)
    assert IncrementalState(spark, str(tmp_path), n_buckets=4).exact_mode()


def test_tagged_bucket_collect_matches_per_table_buckets(spark, tmp_path):
    """One tagged collect returns each table's distinct buckets, computed
    with that table's bucket column, and [] for an empty frame."""
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    ids = spark.range(40).select(F.col("id"))
    comps = spark.range(5, 9).select(F.col("id").alias("component"))
    keys = spark.createDataFrame([], "key long")
    got = _collect_buckets(
        state, {"membership": ids, "cluster_keys": comps, "key_index": keys}
    )

    def buckets(df, table):
        return sorted({r[0] for r in df.select(state.bucket_expr(table)).collect()})

    assert sorted(got["membership"]) == buckets(ids, "membership")
    assert sorted(got["cluster_keys"]) == buckets(comps, "cluster_keys")
    assert got["key_index"] == []
