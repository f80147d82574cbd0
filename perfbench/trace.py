"""Traced run: the entry point's steps called one module at a time in
one Spark session, with the event log on.

    python3 perfbench/trace.py SPEC.json

SPEC names the workload (and for ``cli-nt`` the CLI command), the
generated inputs, a scratch directory, the result path and the
wall-clock time at which this process was launched.
The event log is switched on by the caller through
``PYSPARK_SUBMIT_ARGS``; this process only sets one job group per call.

Each step gets the frame the previous step materialized as parquet and
is forced with a ``noop`` sink, so its span holds its own work and the
scan of its input. Materializing and counting run under the
``perfbench`` job group, which no layer is charged for. For ``runner``
and ``resume`` the real ``GraphTableWriter.run`` is traced first, as one
span, while the session is as fresh as the entry point's would be.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check import table_files  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tripsu_spark import session  # noqa: E402
from tripsu_spark.crypto import Pseudonymizer, pseudo_triple  # noqa: E402
from tripsu_spark.functions.terms import serialize_triple_line  # noqa: E402
from tripsu_spark.operators.extract import derived_triples, per_turn_triples  # noqa: E402
from tripsu_spark.operators.index import build_type_index  # noqa: E402
from tripsu_spark.operators.masking import apply_masks, prune_index_for_rules  # noqa: E402
from tripsu_spark.plans import lineage  # noqa: E402
from tripsu_spark.plans.pipeline import TRIPLE_COLS  # noqa: E402
from tripsu_spark.plans.table_format import ParquetFormat  # noqa: E402
from tripsu_spark.rules import Rules  # noqa: E402
from tripsu_spark.schemas import KIND_IRI, KIND_LITERAL  # noqa: E402
from tripsu_spark.sources.ntriples import parse_ntriples_lines, write_ntriples  # noqa: E402

BOOKKEEPING = "perfbench"


class Tracer:
    def __init__(self, spark, scratch: str):
        self.spark = spark
        self.scratch = scratch
        self.spans: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.noop_new_files: list[str] = []

    @contextmanager
    def span(self, name: str, group: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
            sc.setJobGroup(BOOKKEEPING, "materialize and count")

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def materialize(self, df, name: str):
        path = os.path.join(self.scratch, "steps", name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def step(self, name: str, layer: str, build):
        """Time ``build()`` forced by a noop sink, then materialize it
        under ``steps/<name>``."""
        with self.span(name, layer):
            self.noop(build())
        return self.materialize(build(), name)


def index_step(t: Tracer, triples):
    index = t.step("index.build_type_index_s", "index", lambda: build_type_index(triples))
    t.counts["index.subjects"] = index.count()
    return index


def pseudo_steps(t: Tracer, triples, index, rules: Rules, hasher: Pseudonymizer):
    """masking -> crypto -> terms, as both entry points run them. Returns
    the materialized pseudonymized triples."""
    masked = t.step("masking.apply_masks_s", "masking", lambda: apply_masks(triples, index, rules))
    rule_types = set(rules.node_of_type) | set(rules.object_on_type_predicate)
    t.counts["masking.build_rows"] = prune_index_for_rules(index, rule_types).count()
    m_s, m_o = F.col("mask_subject"), F.col("mask_object")
    row = masked.agg(
        F.sum(m_s.cast("long")).alias("s"),
        F.sum(m_o.cast("long")).alias("o"),
        F.sum((m_s & (F.col("s_kind") == KIND_IRI)).cast("long")).alias("hs"),
        F.sum((m_o & F.col("o_kind").isin(KIND_IRI, KIND_LITERAL)).cast("long")).alias("ho"),
    ).collect()[0]
    t.counts["masking.masked_terms"] = (row["s"] or 0) + (row["o"] or 0)
    t.counts["crypto.hashes"] = (row["hs"] or 0) + (row["ho"] or 0)

    pseudo = t.step(
        "crypto.pseudo_triple_s", "crypto",
        lambda: pseudo_triple(masked, m_s, m_o, hasher).select(*TRIPLE_COLS),
    )
    with t.span("terms.serialize_triple_line_s", "terms"):
        t.noop(pseudo.select(serialize_triple_line().alias("line")))
    return pseudo


class SpanFormat(ParquetFormat):
    """The default table format, timing each write the runner makes."""

    def __init__(self):
        self.write_s = 0.0

    def write(self, df, path, partition_by=None):
        t0 = time.perf_counter()
        try:
            super().write(df, path, partition_by)
        finally:
            self.write_s += time.perf_counter() - t0


def trace_runner(t: Tracer, spec: dict, rules: Rules, hasher: Pseudonymizer) -> float:
    """Real ``GraphTableWriter.run`` as one span, its no-op re-run, then
    the run's steps one module at a time. Returns the real run's span."""
    spark = t.spark
    transcripts = spark.read.parquet(spec["transcripts"])

    fmt = SpanFormat()
    checksum = {"s": 0.0}
    real_checksum = lineage.triples_checksum

    def timed_checksum(df):
        t0 = time.perf_counter()
        try:
            return real_checksum(df)
        finally:
            checksum["s"] += time.perf_counter() - t0

    lineage.triples_checksum = timed_checksum
    try:
        writer = lineage.GraphTableWriter(spec["graph"], n_buckets=spec["buckets"], table_format=fmt)
        resumed = len(writer.committed_buckets())
        with t.span("lineage.run_s", "lineage.run"):
            writer.run(spark, transcripts, rules, hasher)
    finally:
        lineage.triples_checksum = real_checksum
    run_s = t.spans["lineage.run_s"]
    t.spans["lineage.self_s"] = run_s - fmt.write_s
    t.spans["lineage.triples_checksum_s"] = checksum["s"]
    # Units a resume had to redo: the buckets plus the derived-triples unit,
    # less those already committed; 0 for a fresh run.
    t.counts["lineage.resumed_buckets"] = (spec["buckets"] + 1 - resumed) if resumed else 0

    before = table_files(spec["graph"])
    with t.span("lineage.noop_run_s", "lineage.noop"):
        lineage.GraphTableWriter(spec["graph"], n_buckets=spec["buckets"]).run(
            spark, transcripts, rules, hasher
        )
    t.noop_new_files = sorted(table_files(spec["graph"]) - before)

    valid = transcripts.filter(~lineage._invalid_transcript())
    per_turn = t.step("extract.per_turn_triples_s", "extract", lambda: per_turn_triples(valid))
    derived = t.step("extract.derived_triples_s", "extract", lambda: derived_triples(valid))
    triples = per_turn.unionByName(derived)
    t.counts["extract.triples"] = triples.count()
    pseudo = pseudo_steps(t, triples, index_step(t, triples), rules, hasher)

    out = os.path.join(t.scratch, "table_format")
    with t.span("table_format.write_s", "table_format"):
        ParquetFormat().write(
            pseudo.withColumn("pred_part", lineage.predicate_partition_col()), out,
            partition_by=["pred_part"],
        )
    parts = [
        os.path.join(r, n) for r, _d, names in os.walk(out) for n in names
        if n.startswith("part-")
    ]
    t.counts["table_format.files"] = len(parts)
    t.counts["table_format.bytes"] = sum(os.path.getsize(p) for p in parts)
    return run_s


def trace_cli(t: Tracer, spec: dict, rules: Rules, hasher: Pseudonymizer) -> float:
    """One ``tripsu_cli.py`` command, ``index`` or ``pseudo``, one module at
    a time; each command parses the input itself, as the CLI does.
    Returns the sum of the spans."""
    lines = t.spark.read.text(spec["nt"])
    parsed = t.step("ntriples.parse_ntriples_lines_s", "ntriples", lambda: parse_ntriples_lines(lines))
    t.counts["ntriples.lines"] = parsed.count()
    t.counts["ntriples.quarantined"] = parsed.filter(F.col("_error").isNotNull()).count()
    triples = parsed.filter(F.col("_error").isNull()).drop("_error")
    if spec["command"] == "index":
        index_step(t, triples)
    else:
        index = t.spark.read.parquet(os.path.join(t.scratch, "steps", "index.build_type_index_s"))
        pseudo = pseudo_steps(t, triples, index, rules, hasher)
        with t.span("ntriples.write_ntriples_s", "ntriples"):
            write_ntriples(pseudo, spec["nt_out"])
    return sum(t.spans.values())


def main() -> int:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    cli = spec["workload"] == "cli-nt"
    spark = (
        session.get_spark(app_name=f"tripsu-{spec['command']}") if cli
        else session.get_submit_spark("tripsu-spark-pipeline")
    )
    ready = time.time()
    t = Tracer(spark, spec["scratch"])
    spark.sparkContext.setJobGroup(BOOKKEEPING, "setup")
    rules = Rules.load(spec["rules"])
    with open(spec["secret"], "rb") as fh:
        hasher = Pseudonymizer.create("sha256", fh.read())
    work_s = (trace_cli if cli else trace_runner)(t, spec, rules, hasher)
    spark.stop()
    with open(spec["result"], "w") as fh:
        json.dump({
            "spans": t.spans,
            "counts": t.counts,
            "noop_new_files": t.noop_new_files,
            # Launch-to-session time plus the entry point's own work: the
            # traced counterpart of the untraced wall_s.
            "total_s": ready - spec["launch_epoch"] + work_s,
        }, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
