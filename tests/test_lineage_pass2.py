"""The runner's single pass 2: empty buckets, observed checksums, the
Spark job budget per bucket, and the rdf:type-only pass 1."""

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from tripsu_spark.crypto import Pseudonymizer
from tripsu_spark.operators.extract import extract_triples, type_triples
from tripsu_spark.operators.index import build_type_index
from tripsu_spark.plans.compact import maybe_expand
from tripsu_spark.plans.lineage import (
    GraphTableWriter,
    _invalid_transcript,
    bucket_col,
    triples_checksum,
)
from tripsu_spark.plans.oracle import BENCH_SECRET
from tripsu_spark.plans.pipeline import default_rules
from tripsu_spark.sources.transcripts import synthetic_transcripts


@pytest.fixture()
def setup(spark, tmp_path):
    transcripts = synthetic_transcripts(spark, n_convs=24, turns_per_conv=4)
    hasher = Pseudonymizer.create("sha256", BENCH_SECRET)
    return transcripts, default_rules(), hasher, str(tmp_path / "graph")


def _with_bad_rows(spark, transcripts):
    bad = spark.createDataFrame(
        [
            (None, 0, "user", "null conv", None, None),
            ("conv-1", 1, None, "null role", None, None),
            ("conv-2", 2, "user", None, None, None),
        ],
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    return transcripts.unionByName(bad)


def _manifest(path, bucket):
    with open(os.path.join(path, "_manifests", f"bucket-{bucket}.json")) as fh:
        return json.load(fh)


def test_empty_buckets_commit_and_read(spark, setup):
    """More buckets than conversations, the last bucket empty: every
    bucket commits, the snapshot commits, and read() serves all rows."""
    _, rules, hasher, path = setup
    transcripts = synthetic_transcripts(spark, n_convs=3, turns_per_conv=4)
    n_buckets = 6
    used = {r[0] for r in transcripts.select(bucket_col(n_buckets)).distinct().collect()}
    assert n_buckets - 1 not in used and len(used) < n_buckets

    writer = GraphTableWriter(path, n_buckets=n_buckets)
    metrics = writer.run(spark, transcripts, rules, hasher)
    assert writer.committed_buckets() == set(range(n_buckets)) | {"derived"}
    for b in set(range(n_buckets)) - used:
        assert _manifest(path, b)["row_count"] == 0
    assert writer.snapshots()[-1]["schema"] is not None
    assert writer.read(spark).count() == metrics["total_rows"] > 0


@pytest.mark.parametrize("store_compact", [0, 2])
def test_manifest_checksums_match_readback(spark, setup, store_compact):
    """The checksums observed on the write equal a recomputation over
    each committed bucket read back through the format seam."""
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path, n_buckets=4)
    writer.run(spark, _with_bad_rows(spark, transcripts), rules, hasher,
               store_compact=store_compact)
    for b in writer.committed_buckets():
        m = _manifest(path, b)
        stored = writer.fmt.read(spark, os.path.join(writer.data_dir, f"bucket={b}"))
        assert triples_checksum(maybe_expand(stored.drop("pred_part"))) == (
            m["row_count"], m["checksum"]
        )
        assert m["storage_level"] == store_compact


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"lineage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_count_guard(spark, setup):
    """Pass 2 is planned once per run: each extra bucket adds at most
    its own write job, and a no-op resume launches no job at all."""
    transcripts, rules, hasher, path = setup

    def run(n_buckets):
        return lambda: GraphTableWriter(f"{path}-b{n_buckets}", n_buckets=n_buckets).run(
            spark, transcripts, rules, hasher
        )

    jobs_2 = _jobs_in_group(spark, run(2))
    jobs_6 = _jobs_in_group(spark, run(6))
    assert jobs_6 - jobs_2 <= 4
    assert _jobs_in_group(spark, run(6)) == 0


def test_type_triples_index_matches_full_extraction(spark, setup):
    """Pass 1 built from the rdf:type-only extraction equals the index
    of the full extraction, malformed rows present or filtered out."""
    transcripts, *_ = setup
    dirty = _with_bad_rows(spark, transcripts)

    def index_rows(triples):
        idx = build_type_index(triples).select("subject_key", F.array_sort("types"))
        return {(k, tuple(types)) for k, types in idx.collect()}

    for t in (dirty, dirty.filter(~_invalid_transcript())):
        want = index_rows(extract_triples(t))
        assert index_rows(type_triples(t)) == want and want


def test_commit_threads_inherit_job_group(spark, setup):
    """Every job of an overlapped run, worker-thread commits included,
    runs in the caller's job group: none lands in the no-group set."""
    transcripts, rules, hasher, path = setup
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    group = f"lineage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        GraphTableWriter(path, n_buckets=6).run(spark, transcripts, rules, hasher)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert tracker.getJobIdsForGroup(group)


def test_torn_bucket_under_overlap_resumes(spark, setup):
    """A bucket whose data is written but whose manifest is not (a
    torn commit) while other commits are in flight: the run raises,
    every other unit commits exactly as in a clean run, and a resume
    rewrites only the torn bucket, to the clean run's checksum."""
    from tripsu_spark.plans.table_format import ParquetFormat

    transcripts, rules, hasher, path = setup
    dirty = _with_bad_rows(spark, transcripts)
    n_buckets, torn = 6, 2

    class TornAfterData(ParquetFormat):
        def write(self, df, p, partition_by=None):
            super().write(df, p, partition_by)
            if p.endswith(f"bucket={torn}"):
                raise OSError(f"torn commit of bucket {torn}")

    clean = GraphTableWriter(f"{path}-clean", n_buckets=n_buckets)
    clean.run(spark, dirty, rules, hasher)

    writer = GraphTableWriter(path, n_buckets=n_buckets, table_format=TornAfterData())
    with pytest.raises(OSError, match="torn commit"):
        writer.run(spark, dirty, rules, hasher)
    assert os.path.isdir(os.path.join(writer.data_dir, f"bucket={torn}"))
    committed = writer.committed_buckets()
    assert committed == (set(range(n_buckets)) | {"derived"}) - {torn}

    def fields(p, b):
        m = _manifest(p, b)
        return m["row_count"], m["checksum"], m["quarantined"], m["storage_level"]

    for b in committed:
        assert fields(path, b) == fields(f"{path}-clean", b)

    resumed = GraphTableWriter(path, n_buckets=n_buckets)
    metrics = resumed.run(spark, dirty, rules, hasher)
    assert set(metrics["buckets"]) == {str(torn)}
    assert fields(path, torn) == fields(f"{path}-clean", torn)
    got = {tuple(r) for r in resumed.read(spark).collect()}
    want = {tuple(r) for r in clean.read(spark).collect()}
    assert got == want and got


def test_read_with_no_manifest_raises(spark, setup):
    """A first run that writes data but dies before any manifest leaves
    nothing committed: read() raises instead of serving the unvouched
    data files."""
    from tripsu_spark.plans.table_format import ParquetFormat

    transcripts, rules, hasher, path = setup

    class DiesAfterData(ParquetFormat):
        def write(self, df, p, partition_by=None):
            super().write(df, p, partition_by)
            if "bucket=" in p:
                raise OSError("died before the manifest")

    writer = GraphTableWriter(path, n_buckets=2, table_format=DiesAfterData())
    with pytest.raises(OSError, match="died before the manifest"):
        writer.run(spark, transcripts, rules, hasher)
    assert os.path.isdir(os.path.join(writer.data_dir, "bucket=0"))
    assert writer.committed_buckets() == set()
    with pytest.raises(ValueError, match="no bucket paths"):
        GraphTableWriter(path, n_buckets=2).read(spark)
