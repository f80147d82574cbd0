"""End-to-end benchmark of the two entry points users launch.

    python3 perfbench/run.py --workload runner|resume|cli-nt --seed N \
        --seconds S --trace 0|1 [--events N]

Run from the repository root. Each operation is one launch of
``jobs/run_pipeline.py`` or ``jobs/tripsu_cli.py`` as a process of its
own, one at a time (a closed loop with one client), at ``nproc``
parallelism. Every output is checked against the DuckDB oracle. See
``perfbench/README.md`` for the workloads and the metrics.

With ``--trace 0`` the last line of stdout carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a
separate traced run. The line before it is a JSON record with the
environment, every operation's outcome and the metrics that only some
workloads have.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ["jobs/run_pipeline.py", "jobs/tripsu_cli.py", "tripsu_spark/plans/oracle.py"]

WORKLOADS = ("runner", "resume", "cli-nt")
BUCKETS = 16  # jobs/run_pipeline.py's default
DEFAULT_EVENTS = 20_000
KEEP_INPUT_SETS = 4
RUN_BUDGET_S = 170  # a run must end within 180 s
OP_TIMEOUT_S = 150

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "triples_per_s": "1/s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
}
LAYERS = ("lineage", "extract", "index", "masking", "crypto", "terms", "table_format", "ntriples")
LAYER_SPANS = (
    "lineage.run_s", "lineage.self_s", "lineage.triples_checksum_s", "lineage.noop_run_s",
    "extract.per_turn_triples_s", "extract.derived_triples_s",
    "index.build_type_index_s", "masking.apply_masks_s", "crypto.pseudo_triple_s",
    "terms.serialize_triple_line_s", "table_format.write_s",
    "ntriples.parse_ntriples_lines_s", "ntriples.write_ntriples_s",
)
LAYER_COUNTS = (
    "lineage.resumed_buckets", "extract.triples", "index.subjects", "masking.build_rows",
    "masking.masked_terms", "crypto.hashes", "table_format.files", "ntriples.lines",
    "ntriples.quarantined",
)
EVENTLOG_UNITS = {
    "busy_core_s": "s", "core_util": "ratio", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "gc_s": "s", "task_skew": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {name: "s" for name in LAYER_SPANS}
    units.update({name: "count" for name in LAYER_COUNTS})
    units.update({"lineage.input_scans": "count", "lineage.spark_jobs": "count",
                  "table_format.bytes": "B", "trace.total_s": "s", "trace.overhead_s": "s"})
    for layer in LAYERS:
        units.update({f"{layer}.{k}": u for k, u in EVENTLOG_UNITS.items()})
    return units


def source_fingerprint() -> dict:
    """Git commit when the tree is a repository, and always a digest of the
    program's source files (a benchmark checkout has no ``.git``)."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=True
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = None
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "tripsu_spark", "**", "*.py"), recursive=True)
                       + glob.glob(os.path.join(ROOT, "jobs", "*.py"))):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    return {"git_commit": commit, "source_sha256": digest.hexdigest()}


class Bench:
    def __init__(self, args):
        self.args = args
        self.t_start = time.perf_counter()
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.run_dir = os.path.join(self.work, "run")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in (self.run_dir, os.path.join(self.work, "tmp"), os.path.join(self.work, "spark-local")):
            os.makedirs(d, exist_ok=True)
        self.cores = len(os.sched_getaffinity(0))
        base = {k: v for k, v in os.environ.items()
                if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_CPUS")}
        base["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        base["TMPDIR"] = os.path.join(self.work, "tmp")
        # Keep the JVM's native-library copies, artifact dirs and perf-data
        # file out of /tmp as well.
        base["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={base['TMPDIR']} -XX:+PerfDisableSharedMem"
        )
        # The runner takes its master from the launcher (get_submit_spark);
        # the CLI builds local[$SPARK_GRAFT_CPUS] itself and would default
        # to 32 threads. Driver memory is left as each one gets it.
        self.runner_env = dict(base, PYSPARK_SUBMIT_ARGS=f"--master local[{self.cores}] pyspark-shell")
        self.cli_env = dict(base, SPARK_GRAFT_CPUS=str(self.cores))
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []
        self.n_logs = 0
        self.session_info: dict = {}
        self.kills: list[dict] = []
        self.inputs = self._inputs()

    # ----------------------------------------------------------- inputs

    def _inputs(self) -> dict:
        import gen

        paths = gen.inputs_for(self.work, self.args.seed, self.args.events)
        os.utime(os.path.join(paths["root"], "DONE"))
        sets = sorted(glob.glob(os.path.join(self.work, "inputs", "*", "DONE")),
                      key=os.path.getmtime, reverse=True)
        for done in sets[KEEP_INPUT_SETS:]:
            shutil.rmtree(os.path.dirname(done), ignore_errors=True)
        return paths

    # ----------------------------------------------------------- operations

    def remaining(self) -> float:
        return RUN_BUDGET_S - (time.perf_counter() - self.t_start)

    def launch(self, name: str, argv: list[str], env: dict, stop_when=None) -> dict:
        import procs

        self.n_logs += 1
        log = os.path.join(self.run_dir, f"{self.n_logs:02d}-{name}")
        timeout = max(1.0, min(OP_TIMEOUT_S, self.remaining()))
        res = procs.run_timed(argv, env, log, timeout, stop_when=stop_when, cwd=ROOT)
        res.update(name=name, log=log)
        return res

    def op(self, name: str, argv: list[str], env: dict) -> dict:
        """One timed operation; a nonzero exit or a timeout fails it."""
        res = self.launch(name, argv, env)
        res["ok"] = res["rc"] == 0 and not res["killed"]
        self.attempted += 1
        self.failed += not res["ok"]
        self.ops.append(res)
        return res

    def fail(self, res: dict, why: str, **detail) -> None:
        """Mark an operation that exited cleanly as failed by a check."""
        if res["ok"]:
            res["ok"] = False
            self.failed += 1
        res.setdefault("errors", []).append(dict(detail, why=why))

    def setup_probe(self, factory: str) -> float | None:
        env = self.runner_env if factory == "submit" else self.cli_env
        t0 = time.time()
        res = self.op(f"setup-{factory}", [sys.executable, os.path.join(HERE, "probe.py"), factory], env)
        if not res["ok"]:
            return None
        with open(res["log"] + ".out") as fh:
            info = json.loads(fh.read().strip().splitlines()[-1])
        self.session_info = {k: v for k, v in info.items() if k != "ready_epoch"}
        return info["ready_epoch"] - t0

    def runner_argv(self, graph: str) -> list[str]:
        p = self.inputs
        return [sys.executable, os.path.join(ROOT, "jobs", "run_pipeline.py"),
                "--input", p["transcripts"], "--output", graph,
                "--rules", p["rules"], "--secret-file", p["secret"]]

    def check(self, res: dict, result: dict) -> dict:
        res["check"] = result
        if not result["ok"]:
            self.fail(res, "output differs from the oracle", **result)
        return result

    # ----------------------------------------------------------- workloads

    def cycle_runner(self, i: int) -> dict:
        import check

        graph = os.path.join(self.run_dir, f"graph-{i}")
        fresh = self.op("runner-fresh", self.runner_argv(graph), self.runner_env)
        out = {"wall_s": fresh["wall_s"], "peak_rss_mb": fresh["peak_rss_mb"]}
        if not fresh["ok"]:
            return out
        rows = self.check(fresh, check.check_graph_table(graph, self.inputs["expected"])).get("rows", 0)
        out["triples_per_s"] = rows / fresh["wall_s"]
        out["output_mb"] = check.tree_bytes(graph) / 2**20
        return out

    def kill_halfway(self, graph: str) -> set[str]:
        """Launch the runner and kill its process group once at least half
        the bucket manifests exist. Returns the manifests committed then."""
        manifests = os.path.join(graph, "_manifests")

        def committed() -> set[str]:
            try:
                return {n for n in os.listdir(manifests) if n.startswith("bucket-")}
            except FileNotFoundError:
                return set()

        def halfway() -> bool:
            return sum(n[len("bucket-"):-len(".json")].isdigit() for n in committed()) >= BUCKETS // 2

        res = self.launch("resume-kill", self.runner_argv(graph), self.runner_env, stop_when=halfway)
        self.kills.append({k: res[k] for k in ("wall_s", "killed", "rc")})
        if not res["killed"] or not halfway():
            # The run ended by itself or timed out before the kill point.
            res["ok"] = False
            self.attempted += 1
            self.failed += 1
            self.ops.append(res)
        return committed()

    def cycle_resume(self, i: int, keep_copy: str | None = None) -> dict:
        import check

        graph = os.path.join(self.run_dir, f"graph-{i}")
        before = self.kill_halfway(graph)
        if keep_copy:
            shutil.copytree(graph, keep_copy)
        res = self.op("resume", self.runner_argv(graph), self.runner_env)
        out = {"wall_s": res["wall_s"], "peak_rss_mb": res["peak_rss_mb"],
               "resumed_buckets": BUCKETS + 1 - len(before)}
        if not res["ok"]:
            return out
        self.check(res, check.check_graph_table(graph, self.inputs["expected"]))
        # Triples the resume committed: rows of the manifests it wrote.
        rows = 0
        for path in glob.glob(os.path.join(graph, "_manifests", "bucket-*.json")):
            if os.path.basename(path) not in before:
                with open(path) as fh:
                    rows += json.load(fh)["row_count"]
        out["triples_per_s"] = rows / res["wall_s"]
        out["output_mb"] = check.tree_bytes(graph) / 2**20
        return out

    def cycle_cli(self, i: int) -> dict:
        import check

        p = self.inputs
        base = os.path.join(self.run_dir, f"cli-{i}")
        cli = os.path.join(ROOT, "jobs", "tripsu_cli.py")
        index = self.op("cli-index", [sys.executable, cli, "index", p["nt"], "-o",
                                      os.path.join(base, "index")], self.cli_env)
        out = {"wall_s": index["wall_s"], "peak_rss_mb": index["peak_rss_mb"]}
        if not index["ok"]:
            return out
        pseudo = self.op("cli-pseudo", [
            sys.executable, cli, "pseudo", p["nt"], "-x", os.path.join(base, "index"),
            "-r", p["rules"], "-s", p["secret"], "-o", os.path.join(base, "out"),
        ], self.cli_env)
        out["wall_s"] += pseudo["wall_s"]
        out["peak_rss_mb"] = max(out["peak_rss_mb"], pseudo["peak_rss_mb"])
        if not pseudo["ok"]:
            return out
        rows = self.check(pseudo, check.check_ntriples_dir(
            os.path.join(base, "out", "data"), p["expected"])).get("rows", 0)
        out["triples_per_s"] = rows / out["wall_s"]
        out["output_mb"] = check.tree_bytes(base) / 2**20
        return out

    def cycle(self, i: int) -> dict:
        return {"runner": self.cycle_runner, "resume": self.cycle_resume,
                "cli-nt": self.cycle_cli}[self.args.workload](i)

    # ----------------------------------------------------------- runs

    def end_to_end(self) -> tuple[dict, dict]:
        factory = "cli" if self.args.workload == "cli-nt" else "submit"
        setups, cycles = [], []
        t_measure = time.perf_counter()
        while True:
            t_cycle = time.perf_counter()
            setups.append(self.setup_probe(factory))
            cycles.append(self.cycle(len(cycles)))
            spent = time.perf_counter() - t_cycle
            if (time.perf_counter() - t_measure >= self.args.seconds
                    or self.remaining() < spent * 1.2):
                break

        def med(vals: list) -> float | None:
            vals = [v for v in vals if v is not None]
            return statistics.median(vals) if vals else None

        metrics = {"setup_s": med(setups)}
        for key in ("wall_s", "triples_per_s", "peak_rss_mb", "output_mb"):
            metrics[key] = med([c.get(key) for c in cycles])
        extra = {"cycles": cycles}
        if self.args.workload == "resume":
            extra["resumed_buckets"] = med([c["resumed_buckets"] for c in cycles])
        return metrics, extra

    def traced(self) -> tuple[dict, dict]:
        import check
        import eventlog

        wl = self.args.workload
        spec = {
            "workload": wl, "buckets": BUCKETS,
            "transcripts": self.inputs["transcripts"], "nt": self.inputs["nt"],
            "rules": self.inputs["rules"], "secret": self.inputs["secret"],
            "graph": os.path.join(self.run_dir, "trace-graph"),
            "nt_out": os.path.join(self.run_dir, "trace-nt"),
            "scratch": os.path.join(self.run_dir, "trace-scratch"),
        }
        if wl == "runner":
            untraced = self.cycle_runner(0)
        elif wl == "resume":
            untraced = self.cycle_resume(0, keep_copy=spec["graph"])
        else:
            untraced = self.cycle_cli(0)

        log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(log_dir)
        conf = (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
                "--conf spark.eventLog.compress=false")
        env = dict(self.cli_env if wl == "cli-nt" else self.runner_env)
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--master local[{self.cores}] {conf} pyspark-shell"
        )
        # One traced process per launch the entry point needs: the CLI's
        # index and pseudo are two processes, so the traced total matches
        # the untraced wall_s in session starts.
        spans: dict[str, float] = {}
        counts: dict[str, float] = {}
        total_s = 0.0
        for command in (("index", "pseudo") if wl == "cli-nt" else ("run",)):
            spec.update(command=command, launch_epoch=time.time(),
                        result=os.path.join(self.run_dir, f"trace-{command}.json"))
            spec_path = os.path.join(self.run_dir, f"trace-{command}-spec.json")
            with open(spec_path, "w") as fh:
                json.dump(spec, fh)
            res = self.op(f"trace-{command}",
                          [sys.executable, os.path.join(HERE, "trace.py"), spec_path], env)
            if not res["ok"]:
                return {}, {"untraced": untraced}
            with open(spec["result"]) as fh:
                result = json.load(fh)
            if result["noop_new_files"]:
                self.fail(res, "no-op re-run wrote files", new=result["noop_new_files"][:5],
                          n_new=len(result["noop_new_files"]))
            for k, v in result["spans"].items():
                spans[k] = spans.get(k, 0.0) + v
            counts.update(result["counts"])
            total_s += result["total_s"]
        if wl == "cli-nt":
            self.check(res, check.check_ntriples_dir(spec["nt_out"], self.inputs["expected"]))
        else:
            self.check(res, check.check_graph_table(spec["graph"], self.inputs["expected"]))

        ev = eventlog.EventLog(log_dir)
        metrics = {name: spans.get(name, 0.0) for name in LAYER_SPANS}
        metrics.update({name: counts.get(name, 0) for name in LAYER_COUNTS})
        metrics["table_format.bytes"] = counts.get("table_format.bytes", 0)
        run_groups = {"lineage.run"}
        metrics["lineage.input_scans"] = ev.scans(run_groups, self.inputs["transcripts"])
        metrics["lineage.spark_jobs"] = ev.jobs(run_groups)
        for layer in LAYERS:
            if layer == "lineage":
                groups, span = run_groups, spans.get("lineage.run_s", 0.0)
            else:
                groups = {layer}
                span = sum(v for k, v in spans.items() if k.startswith(layer + "."))
            for k, v in ev.group_metrics(groups, span, self.cores).items():
                metrics[f"{layer}.{k}"] = v
        metrics["trace.total_s"] = total_s
        if "wall_s" in untraced:
            metrics["trace.overhead_s"] = total_s - untraced["wall_s"]
        self.session_info = dict(ev.env, via="event log")
        return metrics, {"untraced": untraced}


def _number(v) -> float:
    return 0.0 if v is None or v != v else v


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--events", type=int, default=DEFAULT_EVENTS,
                    help="input size; smaller only for smoke runs")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import procs

    procs.become_subreaper()
    bench = Bench(args)
    if args.trace:
        values, extra = bench.traced()
        units = per_layer_units()
    else:
        values, extra = bench.end_to_end()
        units = E2E_UNITS
    detail = {
        "workload": args.workload, "seed": args.seed, "events": args.events,
        "trace": args.trace, "closed_loop_clients": 1, "nproc": bench.cores,
        "buckets": BUCKETS, "session": bench.session_info, **source_fingerprint(),
        "error_rate": bench.failed / max(bench.attempted, 1),
        **extra,
        "ops": [{k: v for k, v in op.items() if k != "log"} for op in bench.ops],
        "kills": bench.kills,
    }
    print(json.dumps({"detail": detail}, default=str))
    if bench.attempted == 0:
        print("perfbench: no operation ran", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        # A metric an operation failed to produce reads 0; the run is then
        # reported as not correct.
        "metrics": {k: {"value": _number(values.get(k)), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
