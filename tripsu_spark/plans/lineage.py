"""Partitioned graph materialization + lineage + checkpointed resume
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; graft-specific operators table, SURVEY.md §2).

Iceberg semantics without the Iceberg jar (absent in this sandbox):
all physical table IO goes through the ``TableFormat`` seam
(plans/table_format.py) — parquet by default; the Iceberg adapter with
the exact spark-submit swap recipe is ``IcebergFormat``. Layout:

- the transcript keyspace is split into ``n_buckets`` deterministic
  conv_id buckets (xxhash64; bucket == Spark shuffle hash semantics is
  NOT assumed — the bucket is data, not placement);
- pass 1 builds the type index from the rdf:type rows only
  (``type_triples``), once per table version;
- pass 2 runs ONCE per run: one frame over the valid rows of every
  pending bucket (no manifest yet), ``_bucket`` carried as a column,
  persisted MEMORY_AND_DISK for the run and unpersisted at its end;
- each pending bucket still commits independently from that frame:
  ``data/bucket=<k>/`` parquet + ``_manifests/bucket-<k>.json`` with
  snapshot id, row count and an order-insensitive checksum (XOR of
  per-row xxhash64 over the canonical serialization). Count and
  checksum are observed on the write action itself
  (``DataFrame.observe`` over the logical frame), not read back;
- the first pending bucket's commit fills the cache; the other
  buckets then commit concurrently from a few driver threads, in the
  caller's job group, and the ``derived`` unit (which never reads the
  cache) commits alongside from the start. Each unit is still its own
  write, with its own manifest last;
- malformed rows are counted in one grouped aggregate per run and
  written to ``_quarantine/bucket=<k>`` only for buckets that have any;
- a killed job restarts and skips every bucket whose manifest exists
  (commit order: data first, manifest last, so a torn write re-runs);
- ``metrics.json`` aggregates per-bucket counts at the end.

The graph table itself is partitioned ``type`` (rdf:type statements)
vs ``data`` (everything else): pass-1 style scans (rdf:type only)
prune to one partition.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import RDF_TYPE
from ..crypto import Pseudonymizer
from ..functions.terms import serialize_triple_line
from ..operators.extract import derived_triples, per_turn_triples, type_triples
from ..operators.index import build_type_index
from ..rules import Rules
from .pipeline import pseudonymize
from .table_format import ParquetFormat, TableFormat


def predicate_partition_col():
    """Partition value for the stored graph table: ``type`` (rdf:type
    statements) vs ``data`` (everything else).

    The only selective reader is pass 1 (``read_for_index``, rdf:type
    only); pass 2 reads every predicate. Two values rather than one per
    predicate because the partitioned write cost +0.89s over flat with
    14 values and +0.17s with 2 (sf0.1).
    """
    return F.when(F.col("predicate") == RDF_TYPE, F.lit(RDF_TYPE_PART)).otherwise(
        F.lit("data")
    )


# Partition value predicate_partition_col() yields for rdf:type —
# pass-1 reads of a stored graph table filter on it for pruning.
RDF_TYPE_PART = "type"


def read_for_index(spark: SparkSession, graph_path: str) -> DataFrame:
    """Read ONLY the rdf:type partition of a stored graph table (the
    partition-pruned pass-1 input; `.explain` shows PartitionFilters).
    Works against both storage formats (plans/compact.py)."""
    from .compact import maybe_expand

    return maybe_expand(
        spark.read.parquet(graph_path)
        .filter(F.col("pred_part") == RDF_TYPE_PART)
        .drop("pred_part")
    )


# Driver threads that commit units at once after the pass-2 cache is
# filled. Each commit is a small job bound by latency, not CPU; the
# executor's task slots still bound the work that actually runs.
_COMMIT_THREADS = 4


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


# A transcript row missing any of these cannot mint valid IRIs/triples
# (null conv_id/turn_idx break the subject IRI; null role/text break
# literal objects). SURVEY §4: such rows must NOT be silently dropped —
# they are quarantined per bucket with counts in the bucket manifest.
def _invalid_transcript():
    return (
        F.col("conv_id").isNull()
        | F.col("turn_idx").isNull()
        | F.col("role").isNull()
        | F.col("text").isNull()
    )


def _checksum_aggs():
    """Row count and order-insensitive checksum over canonical lines, as
    aggregate expressions: ``triples_checksum`` collects them, the
    writer observes them on its write action."""
    return (
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(serialize_triple_line())).alias("checksum"),
    )


def triples_checksum(triples: DataFrame) -> tuple[int, int]:
    """(row_count, order-insensitive checksum) over canonical lines."""
    row = triples.agg(*_checksum_aggs()).collect()[0]
    return int(row["n"]), int(row["checksum"] or 0)


class GraphTableWriter:
    """Bucketed, resumable two-pass pipeline runner with an Iceberg-style
    snapshot log.

    Each COMPLETED run commits a snapshot: ``_snapshots/<seq>-<id>.json``
    records every bucket's data path, row count, checksum, quarantine
    count, and the PHYSICAL schema written (snapshots may differ —
    e.g. standard vs prefix-compacted storage; ``read`` restores the
    same logical frame either way). ``run(overwrite=True)`` starts a new
    table version in ``data/v<seq>/`` instead of resuming; ``read(
    as_of=<snapshot_id>)`` time-travels to any committed snapshot.
    Version 1 keeps the bare ``data/bucket=<k>`` layout so existing
    tables/readers are unaffected.
    """

    def __init__(
        self,
        base_path: str,
        n_buckets: int = 8,
        table_format: TableFormat | None = None,
    ):
        self.base_path = base_path
        self.n_buckets = n_buckets
        # Physical-format seam (plans/table_format.py): every table
        # read/write below goes through this adapter; swapping parquet
        # for Iceberg is a constructor argument, not a rewrite. JSON
        # manifests/snapshots/quarantine are writer-side control data,
        # not table data, and stay on the filesystem in either format.
        self.fmt = table_format if table_format is not None else ParquetFormat()
        self.snapshot_dir = os.path.join(base_path, "_snapshots")
        os.makedirs(self.snapshot_dir, exist_ok=True)
        self._set_version(self._latest_version())

    # ------------------------------------------------------------ versions

    def _latest_version(self) -> int:
        vmax = 1
        data = os.path.join(self.base_path, "data")
        if os.path.isdir(data):
            for name in os.listdir(data):
                if name.startswith("v") and name[1:].isdigit():
                    vmax = max(vmax, int(name[1:]))
        return vmax

    def _set_version(self, version: int) -> None:
        self.version = version
        sub = "" if version == 1 else f"v{version}"
        self.data_dir = os.path.join(self.base_path, "data", sub) if sub else os.path.join(self.base_path, "data")
        self.manifest_dir = os.path.join(self.base_path, "_manifests", sub) if sub else os.path.join(self.base_path, "_manifests")
        self.quarantine_dir = os.path.join(self.base_path, "_quarantine", sub) if sub else os.path.join(self.base_path, "_quarantine")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # ------------------------------------------------------------ snapshots

    def snapshots(self) -> list[dict]:
        """Committed snapshots, oldest first."""
        out = []
        for name in sorted(os.listdir(self.snapshot_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.snapshot_dir, name)) as fh:
                    out.append(json.load(fh))
        return out

    def _commit_snapshot(self, spark: SparkSession, snapshot_id: str) -> None:
        buckets = {}
        sample = None
        for b in sorted(self.committed_buckets(), key=str):
            with open(self._manifest_path(b)) as fh:
                m = json.load(fh)
            path = os.path.join(self.data_dir, f"bucket={b}")
            buckets[str(b)] = {
                "path": os.path.relpath(path, self.base_path),
                "row_count": m["row_count"],
                "checksum": m["checksum"],
                "quarantined": m.get("quarantined", 0),
            }
            if m["row_count"] > 0:
                sample = path
        # The physical schema is sampled from a bucket that has data
        # files (an empty bucket has none to infer it from); a table
        # with no rows at all records none.
        schema_json = (
            self.fmt.read(spark, sample).drop("pred_part").schema.json()
            if sample else None
        )
        seq = len(self.snapshots()) + 1
        _atomic_write_json(
            os.path.join(self.snapshot_dir, f"{seq:06d}-{snapshot_id}.json"),
            {
                "snapshot_id": snapshot_id,
                "sequence": seq,
                "version": self.version,
                "schema": schema_json,
                "buckets": buckets,
            },
        )

    def _manifest_path(self, bucket) -> str:
        return os.path.join(self.manifest_dir, f"bucket-{bucket}.json")

    def committed_buckets(self) -> set:
        out: set = set()
        for name in os.listdir(self.manifest_dir):
            if name.startswith("bucket-") and name.endswith(".json"):
                raw = name[len("bucket-"):-len(".json")]
                out.add(int(raw) if raw.isdigit() else raw)
        return out

    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        rules: Rules,
        hasher: Pseudonymizer,
        snapshot_id: str | None = None,
        fail_after_bucket: int | None = None,
        overwrite: bool = False,
        store_compact: bool | int = False,
    ) -> dict:
        """Process every uncommitted bucket; returns metrics dict.

        ``fail_after_bucket`` injects a crash for the resume tests: the
        pending buckets up to and including the first pending one
        >= ``fail_after_bucket`` commit, then the run raises. Later
        buckets and the ``derived`` unit are neither written nor
        committed.
        Pass 1 builds the global type index over ALL valid transcripts
        (it must see every rdf:type statement regardless of bucket)
        from their rdf:type rows only, and commits it once per table
        version; its row count is observed on the write.

        Pass 2 runs once per run, not once per bucket: one frame over
        the valid rows of every pending bucket, ``_bucket`` carried as
        a column, persisted MEMORY_AND_DISK before the first commit and
        unpersisted when the run ends, crash included. Each pending
        bucket then commits its slice through ``fmt.write``; the row
        count and checksum are observed on that write over the logical
        frame (before ``pred_part`` and compaction), so they are
        storage-format-invariant and need no read-back. Malformed rows
        are counted for all pending buckets in one grouped aggregate.
        A no-op resume launches no Spark job.

        Commits overlap once the cache is filled: the ``derived`` unit
        starts on a worker thread, the first pending bucket commits on
        the calling thread (materializing the cache exactly once), and
        the remaining buckets then commit from ``_COMMIT_THREADS``
        worker threads. Workers inherit the caller's job group,
        description and tags. Every unit still writes its quarantine
        JSON, then its data, then its manifest last, so a crash leaves
        each bucket either committed or re-run on resume. If a commit
        fails, the run waits for the others, unpersists the cache and
        re-raises the first failure in pending-bucket order.
        ``metrics.json`` lists buckets in pending order, then
        ``derived``, whatever order the commits finished in.

        ``overwrite=True`` starts a NEW table version (fresh data dirs;
        prior snapshots stay readable via ``read(as_of=...)``).
        ``store_compact`` stores this version compacted
        (plans/compact.py; True/1 = prefix codes, 2 = + dictionary-coded
        kind/predicate/datatype tinyints) — a PHYSICAL schema change;
        ``read`` restores the identical logical frame.
        """
        snapshot_id = snapshot_id or f"snap-{int(time.time() * 1000)}"
        if overwrite and (self.committed_buckets() or self.snapshots()):
            self._set_version(self.version + 1)

        # Every pass below sees valid rows only; malformed rows land in
        # _quarantine/bucket=<k> with per-bucket counts in the manifests
        # (audit trail, SURVEY §4).
        valid = transcripts.filter(~_invalid_transcript())

        index_path = os.path.join(
            self.base_path,
            "type_index" if self.version == 1 else f"type_index_v{self.version}",
        )
        index_manifest = os.path.join(self.manifest_dir, "type_index.json")
        if not os.path.exists(index_manifest):
            obs = Observation()
            self.fmt.write(
                build_type_index(type_triples(valid)).observe(obs, F.count(F.lit(1)).alias("n")),
                index_path,
            )
            _atomic_write_json(index_manifest, {
                "snapshot_id": snapshot_id, "rows": obs.get["n"], "stage": "pass1"
            })

        done = self.committed_buckets()
        # A table version must be one physical layout: resuming with a
        # different --store-compact than the committed buckets would
        # write mixed schemas into one version and read() would return
        # silently wrong triples (schema union, no error). Refuse.
        for b in sorted(done, key=str):
            with open(self._manifest_path(b)) as fh:
                committed_level = json.load(fh).get("storage_level")
            if committed_level is None:
                # Legacy manifest (committed before storage_level was
                # recorded): the key's absence does NOT mean level 0 —
                # sniff the committed bucket's physical parquet schema
                # for the compact-storage marker columns instead of
                # guessing (a level-1 table misread as 0 would refuse
                # its own correct resume and steer the operator toward
                # appending level-0 buckets into a level-1 version).
                cols = self.fmt.read(
                    spark, os.path.join(self.data_dir, f"bucket={b}")
                ).columns
                committed_level = 2 if "s_kc" in cols else 1 if "s_pfx" in cols else 0
            if committed_level != int(store_compact):
                raise ValueError(
                    f"resume storage-level mismatch: bucket {b} of this table "
                    f"version was committed at storage level {committed_level}, "
                    f"but this run requested {int(store_compact)}; rerun with "
                    f"store_compact={committed_level}, or start a new version "
                    f"with overwrite=True"
                )
            break  # all buckets of a version share one level; checking one suffices
        metrics: dict = {"snapshot_id": snapshot_id, "buckets": {}, "skipped": sorted(done, key=str)}
        pending = [b for b in range(self.n_buckets) if b not in done]
        crash_at = next(
            (b for b in pending if fail_after_bucket is not None and b >= fail_after_bucket), None
        )
        if crash_at is not None:
            pending = pending[: pending.index(crash_at) + 1]
        # Derived triples (entity typing, link scores) are GLOBAL facts
        # and get their own single commit, so the union over all
        # commits equals extract_triples(all) exactly regardless of
        # n_buckets (no cross-bucket duplicate type rows).
        commit_derived = "derived" not in done and crash_at is None
        level = int(store_compact)
        if pending or commit_derived:
            index_df = self.fmt.read(spark, index_path)
        staged = derived = first = None
        rest: list = []
        try:
            with ThreadPoolExecutor(max_workers=_COMMIT_THREADS) as pool:
                # Worker threads run their jobs under the caller's job
                # group, description and tags.
                inherit = inheritable_thread_target(spark)
                if commit_derived:
                    # never reads the pass-2 cache: it commits alongside
                    derived = pool.submit(
                        inherit(self._commit_unit), "derived",
                        pseudonymize(derived_triples(valid), index_df, rules, hasher),
                        0, snapshot_id, level,
                    )
                if pending:
                    # null conv_id (a quarantine case) hashes to bucket 0 so
                    # every malformed row still has a deterministic home bucket.
                    bucketed = transcripts.withColumn(
                        "_bucket", F.coalesce(bucket_col(self.n_buckets), F.lit(0))
                    ).filter(F.col("_bucket").isin(pending))
                    bad = bucketed.filter(_invalid_transcript())
                    n_bad = {r["_bucket"]: r["count"] for r in bad.groupBy("_bucket").count().collect()}
                    # Per-turn triples are conversation-local -> one bucket each.
                    staged = pseudonymize(
                        per_turn_triples(bucketed.filter(~_invalid_transcript()), carry=("_bucket",)),
                        index_df, rules, hasher, carry=("_bucket",),
                    ).persist(StorageLevel.MEMORY_AND_DISK)

                    def commit_bucket(b: int) -> dict:
                        if n_bad.get(b):
                            bad.filter(F.col("_bucket") == b).drop("_bucket").write.mode(
                                "overwrite"
                            ).json(os.path.join(self.quarantine_dir, f"bucket={b}"))
                        return self._commit_unit(
                            b, staged.filter(F.col("_bucket") == b).drop("_bucket"),
                            n_bad.get(b, 0), snapshot_id, level,
                        )

                    # The first commit fills the cache on this thread, so
                    # the rest read it instead of each materializing it.
                    first = commit_bucket(pending[0])
                    rest = [pool.submit(inherit(commit_bucket), b) for b in pending[1:]]
        finally:
            if staged is not None:
                staged.unpersist()
        # A failed commit re-raises here, after every other one ended:
        # the first failure in pending-bucket order wins.
        if pending:
            for b, entry in zip(pending, [first] + [f.result() for f in rest]):
                metrics["buckets"][str(b)] = entry
        if crash_at is not None:
            raise RuntimeError(f"injected failure after bucket {crash_at}")
        if derived is not None:
            metrics["buckets"]["derived"] = derived.result()

        total = sum(m["rows"] for m in metrics["buckets"].values())
        total_bad = sum(m["quarantined"] for m in metrics["buckets"].values())
        for b in sorted(done, key=str):
            with open(self._manifest_path(b)) as fh:
                manifest = json.load(fh)
            total += manifest["row_count"]
            total_bad += manifest.get("quarantined", 0)
        metrics["total_rows"] = total
        metrics["total_quarantined"] = total_bad
        _atomic_write_json(os.path.join(self.base_path, "metrics.json"), metrics)
        # run completed -> commit a snapshot (skip pure no-op resumes so
        # an idempotent re-run doesn't duplicate the log)
        snaps = self.snapshots()
        if metrics["buckets"] or not any(s["version"] == self.version for s in snaps):
            self._commit_snapshot(spark, snapshot_id)
        return metrics

    def _commit_unit(
        self, bucket, triples: DataFrame, n_bad: int, snapshot_id: str,
        storage_level: int,
    ) -> dict:
        """Write one unit's logical triples, then its manifest (last);
        returns the unit's ``metrics.json`` entry. Row count and
        checksum are observed on the write action."""
        obs = Observation()
        out = triples.observe(obs, *_checksum_aggs()).withColumn(
            "pred_part", predicate_partition_col()
        )
        if storage_level:
            from .compact import compact_triples

            # pred_part is computed BEFORE compaction (level 2
            # dictionary-codes the predicate column away); it passes
            # through compact_triples untouched.
            out = compact_triples(out, level=storage_level)
        self.fmt.write(
            out, os.path.join(self.data_dir, f"bucket={bucket}"), partition_by=["pred_part"]
        )
        n, checksum = int(obs.get["n"]), int(obs.get["checksum"] or 0)
        _atomic_write_json(self._manifest_path(bucket), {
            "snapshot_id": snapshot_id,
            "partition_id": bucket,
            "row_count": n,
            "checksum": checksum,
            "quarantined": n_bad,
            "storage_level": storage_level,
        })
        return {"rows": n, "checksum": checksum, "quarantined": n_bad}

    def read(self, spark: SparkSession, as_of: str | None = None) -> DataFrame:
        """Logical triple frame of the latest snapshot, or time-travel
        to ``as_of=<snapshot_id>``. Physical schema differences between
        snapshots (e.g. compact vs standard storage) are resolved here —
        callers always get the same logical columns."""
        from .compact import maybe_expand

        snaps = self.snapshots()
        if not snaps:
            # No committed snapshot yet. Mid-run: read only the buckets
            # the manifests vouch for, through the format seam. Data
            # files without a manifest (a torn commit) are never served;
            # with no manifest at all read_union raises.
            paths = [
                os.path.join(self.data_dir, f"bucket={b}")
                for b in sorted(self.committed_buckets(), key=str)
            ]
            return maybe_expand(
                self.fmt.read_union(spark, paths, self.data_dir)
                .drop("pred_part", "bucket")
            )
        if as_of is None:
            snap = snaps[-1]
        else:
            matching = [s for s in snaps if s["snapshot_id"] == as_of]
            if not matching:
                known = [s["snapshot_id"] for s in snaps]
                raise ValueError(f"unknown snapshot {as_of!r}; committed: {known}")
            snap = matching[-1]
        paths = [os.path.join(self.base_path, b["path"]) for b in snap["buckets"].values()]
        # all buckets of one snapshot share a version data dir; an
        # empty-bucket snapshot reaches read_union's descriptive error
        base = os.path.dirname(paths[0]) if paths else self.data_dir
        return maybe_expand(
            self.fmt.read_union(spark, paths, base).drop("pred_part", "bucket")
        )


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)
