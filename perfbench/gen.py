"""Seeded input generator for the benchmark.

One seed gives one input set, written once under
``<work>/inputs/seed-<seed>-e<events>/`` and reused by every later run
with the same seed:

- ``events.parquet``: events shaped like the sf0.1 test table (near-uniform
  users, five event types, one ``props`` JSON snippet per event);
- ``transcripts/``: the runner's input, derived from the events by the
  oracle's ``TRANSCRIPTS_CTE`` (the SQL mirror of
  ``sources.transcripts.transcripts_from_events``);
- ``triples.nt``: the same triples as N-Triples, the CLI's input;
- ``rules.yaml``: the flagship rules, the only rule set the oracle encodes;
- ``secret.bin``: a 32-byte secret drawn from the seed;
- ``expected.parquet``: the oracle's pseudonymized N-Triples lines
  (``oracle.q_ntriples_lines`` semantics, salted with this seed's secret).

Only DuckDB and NumPy run here; no Spark session is started.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tripsu_spark.functions.blake3_py import blake3_digest
from tripsu_spark.plans import oracle
from tripsu_spark.plans.pipeline import DEFAULT_RULES_YAML

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
USERS_PER_EVENT = 1500 / 100_000  # the sf0.1 table's ratio
SPAN_US = 30 * 24 * 3600 * 1_000_000  # events spread over 30 days
START_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def make_events(seed: int, n_events: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n_users = max(1, round(n_events * USERS_PER_EVENT))
    ts = np.sort(rng.integers(0, SPAN_US, n_events)) + START_US
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.uniform(0, 200, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def expected_lines_sql(salt: str) -> str:
    """``oracle.q_ntriples_lines`` with this input's salt in place of the
    fixed bench salt."""
    return oracle._with_triples(
        ", " + oracle.INDEX_PAIRS_CTE.strip() + ", " + oracle.MASKED_CTE.strip()
        + ", " + oracle.pseudo_cte(salt).strip()
        + f" SELECT DISTINCT {oracle.NTRIPLES_LINE_SQL} AS line FROM pseudo"
    )


def inputs_for(work: str, seed: int, n_events: int) -> dict:
    """Paths of the input set for ``seed``; generated on first use."""
    root = os.path.join(work, "inputs", f"seed-{seed}-e{n_events}")
    paths = {
        "root": root,
        "events": os.path.join(root, "events.parquet"),
        "transcripts": os.path.join(root, "transcripts"),
        "nt": os.path.join(root, "triples.nt"),
        "rules": os.path.join(root, "rules.yaml"),
        "secret": os.path.join(root, "secret.bin"),
        "expected": os.path.join(root, "expected.parquet"),
    }
    if os.path.exists(os.path.join(root, "DONE")):
        return paths
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(paths["transcripts"])

    pq.write_table(make_events(seed, n_events), paths["events"])
    # The secret is drawn from a stream of its own so it does not shift
    # with the event count.
    secret = np.random.default_rng([seed, 1]).bytes(32)
    with open(paths["secret"], "wb") as fh:
        fh.write(secret)
    with open(paths["rules"], "w", encoding="utf-8") as fh:
        fh.write(DEFAULT_RULES_YAML)

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{paths['events']}')")
        transcripts = con.execute(
            f"WITH {oracle.TRANSCRIPTS_CTE.strip()} SELECT conv_id, turn_idx, role, "
            "text, tool, ts FROM transcripts ORDER BY conv_id, turn_idx"
        ).arrow()
        # Spark reads a UTC-adjusted timestamp as TimestampType, the type
        # transcripts_from_events produces; a naive one would read as
        # TIMESTAMP_NTZ.
        ts_i = transcripts.schema.get_field_index("ts")
        transcripts = transcripts.set_column(
            ts_i, "ts", transcripts["ts"].cast(pa.timestamp("us", tz="UTC"))
        )
        pq.write_table(transcripts, os.path.join(paths["transcripts"], "part-00000.parquet"))

        lines = con.execute(oracle._with_triples(
            f"SELECT {oracle.NTRIPLES_LINE_SQL} AS line FROM triples ORDER BY line"
        )).fetchall()
        with open(paths["nt"], "w", encoding="utf-8") as fh:
            fh.writelines(line + "\n" for (line,) in lines)

        salt = blake3_digest(secret).hex()
        con.execute(
            f"COPY ({expected_lines_sql(salt)}) TO '{paths['expected']}' (FORMAT PARQUET)"
        )
    finally:
        con.close()
    open(os.path.join(root, "DONE"), "w").close()
    return paths
