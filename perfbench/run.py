"""Benchmark of the engine's three user paths at sf0.1 on local[nproc].

    python3 perfbench/run.py --workload medallion_run --seed 0 --seconds 20 --trace 0

Workloads (closed loop, one client, one Spark session per process):
- ``medallion_run``: ``pipeline.run_pipeline`` over ``events``;
- ``curate_waterfall``: ``corpus_curate.curate_corpus`` over ``documents``;
- ``query_mix``: one pass over ``MIX``, as one interactive session.

Every iteration is a fresh worker process (``worker.py``), so JVM start-up
and the once-per-process exports land in the numbers. Iterations repeat
until ``--seconds`` would be exceeded by the next one; at least one runs.

Seed 0 reads the test tables as they are; any other seed reads a copy of
each table with its rows in a seeded order (same file, same row groups).
The mix runs in the fixed ``MIX`` order: a seeded order moved the
cold-start cost between queries and spread query_p50_s by 28% across
seeds. Outputs are checked against ``pins.json`` on every seed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced and one traced iteration, rolls the traced one's Spark event log
up per span (``eventlog.py``) and prints the per-layer metrics. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PINS = os.path.join(HERE, "pins.json")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
#: workload -> tables it reads (the base of write_amp)
WORKLOADS = {
    "medallion_run": ("events",),
    "curate_waterfall": ("documents",),
    "query_mix": TABLES,
}
#: short JVM-plan queries (they set the median), the ewm/backtest islands
#: that medallion_run shares, and v4's once-per-process HMM export
MIX = (
    "j6_overlay_coverage", "s3_pushdown_scan",
    "w2_rolling_stats", "w6_run_length", "p2_p3_quality_flags",
    "st1_tumbling_daily", "t2_quality_score", "w3_ewm_wilder", "b6_trade_sim",
    "v4_hmm_ribbon",
)
#: (name, unit, better) of every end-to-end metric
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("query_p50_s", "s", "lower"),
    ("write_amp", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)
_FIELDS = {
    "s": ("s", "lower"), "jobs": ("count", "lower"), "exec_run_s": ("s", "lower"),
    "shuffle_write_bytes": ("B", "lower"), "bytes_written": ("B", "lower"),
    "driver_gap_s": ("s", "lower"), "util": ("ratio", "higher"),
}
PIPELINE_SPANS = tuple(f"pipeline.{x}" for x in
                       ("bronze", "silver", "gold", "research", "backtest", "report"))
CURATE_SPANS = tuple(f"curate.{x}" for x in ("pair_export", "decision", "waterfall", "write"))
#: span -> fields reported for it
SPAN_FIELDS = {
    **{sp: ("s", "jobs", "exec_run_s", "shuffle_write_bytes", "bytes_written",
            "driver_gap_s", "util") for sp in PIPELINE_SPANS},
    **{sp: ("s", "jobs", "exec_run_s", "shuffle_write_bytes", "driver_gap_s", "util")
       for sp in CURATE_SPANS},
    **{f"query.{q}": ("s", "jobs", "driver_gap_s") for q in MIX},
}
_EXTRA_LAYER = (
    ("setup.session.s", "s", "lower"),
    ("jvm.old_gen_peak_mb", "MB", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    ("trace.overhead", "ratio", "lower"),
)
#: Spark driver heap (in local mode the only JVM), fixed in size and touched
#: in full at start (-XX:+AlwaysPreTouch): how much of a heap G1 touches
#: depends on how it sizes the young generation from measured pause times,
#: that is on host load; with the engine's 8g default peak RSS swung 28-42%
#: between identical runs. The heap's own high-water mark is the per-layer
#: ``jvm.old_gen_peak_mb``.
DRIVER_MEM = "2g"
#: longest a single worker may run before it counts as failed
WORKER_TIMEOUT_S = 150


def per_layer_metrics() -> list[dict]:
    out = [{"name": f"{sp}.{f}", "unit": _FIELDS[f][0], "better": _FIELDS[f][1]}
           for sp, fields in SPAN_FIELDS.items() for f in fields]
    return out + [{"name": n, "unit": u, "better": b} for n, u, b in _EXTRA_LAYER]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def default_data_dir() -> str:
    """sf0.1 beside the engine CLI's default (small-scale) data dir."""
    from pipeline_mf_etl_spark.__main__ import _build_parser

    small = _build_parser().parse_args(["query", "-"]).sf_dir
    return os.path.join(os.path.dirname(small), "sf0.1")


# -------------------------------------------------------------------- inputs

def _copy_table(src: str, dst: str, seed: int) -> None:
    """Seed 0: byte copy. Otherwise: the same rows in a seeded order,
    written with the source's row-group count and codec."""
    if seed == 0:
        shutil.copyfile(src, dst)
        return
    import numpy as np
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(src).metadata
    table = pq.read_table(src)
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    per_group = -(-table.num_rows // max(1, meta.num_row_groups))
    codec = meta.row_group(0).column(0).compression.lower() if meta.num_row_groups else "snappy"
    pq.write_table(table.take(perm), dst, row_group_size=max(1, per_group),
                   compression=codec, version=meta.format_version)


def stage(src_dir: str, seed: int, tables) -> str:
    """Seeded copy of ``tables`` under the work dir, made once per seed;
    copies of other seeds are removed."""
    base = os.path.join(WORK, "data")
    dst = os.path.join(base, f"seed{seed}")
    done = os.path.join(dst, ".tables")
    have = set(open(done).read().split()) if os.path.exists(done) else set()
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d.startswith("seed") and d != f"seed{seed}":
                shutil.rmtree(os.path.join(base, d))
    os.makedirs(dst, exist_ok=True)
    for t in tables:
        if t not in have:
            _copy_table(os.path.join(src_dir, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"), seed)
            have.add(t)
    with open(done, "w") as fh:
        fh.write(" ".join(sorted(have)))
    return dst


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ------------------------------------------------------------------- workers

def _proc_table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (ppid, pgrp, rss bytes, start time) for every live process
    (zombies excluded: they hold nothing and cannot be signalled away)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rfind(")") + 2:].split()
        if f[0] != "Z":
            out[int(d)] = (int(f[1]), int(f[2]), int(f[21]) * page, int(f[19]))
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> bytes | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return None


def _tree(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(p)
            todo.extend(kids.get(p, ()))
    return out


class Watch(threading.Thread):
    """Samples the summed RSS of a process tree; remembers every member
    so none outlives the worker."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self.seen = pid, 0, {}
        self.stop = threading.Event()

    def _size(self, table, pid: int) -> int:
        """RSS, except PSS for the forked Python workers, whose
        copy-on-write pages would otherwise count once per worker, and
        nothing for any other child that has not yet exec'd: between fork
        and exec of a process the JVM spawns (Hadoop's shell calls during
        parquet writes), /proc shows the child with the JVM's whole RSS,
        and a sample landing there read the JVM twice.
        (PSS of the JVM is not read: walking its page tables stalls it.)"""
        cmd = _cmdline(pid)
        if cmd is None:
            return 0
        if b"pyspark.daemon" in cmd:
            return _pss(pid)
        if pid != self.pid and cmd == _cmdline(table[pid][0]):
            return 0
        return table[pid][2]

    def run(self):
        while not self.stop.is_set():
            table = _proc_table()
            members = _tree(table, self.pid)
            self.peak = max(self.peak, sum(self._size(table, p) for p in members))
            for p in members:
                self.seen[p] = table[p][3]
            self.stop.wait(0.2)

    def reap(self, pgid: int) -> None:
        """End what is left of the tree and of its process group."""
        deadline = time.monotonic() + 15
        sig = signal.SIGTERM
        while True:
            table = _proc_table()
            left = [p for p, st in self.seen.items() if p in table and table[p][3] == st]
            left += [p for p, v in table.items() if v[1] == pgid and p not in left]
            if not left:
                return
            if time.monotonic() > deadline:
                sig = signal.SIGKILL
            for p in left:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            time.sleep(0.2)


def run_worker(workload: str, data: str, trace: bool, tag: str) -> dict:
    """One iteration in a fresh process; returns its result plus
    ``setup_s``, ``peak_rss_mb`` and ``bytes_written``."""
    from pipeline_mf_etl_spark.queries.export import _EXPORT_ROOT, _tag

    out = os.path.join(WORK, "out", workload)
    exports = os.path.join(_EXPORT_ROOT, _tag(data))
    evdir = os.path.join(WORK, "eventlog")
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (out, exports, evdir, tmp, local):
        shutil.rmtree(d, ignore_errors=True)
    for d in (out, evdir, tmp, os.path.join(WORK, "logs")):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(WORK, f"result-{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)

    submit = ["--driver-java-options",
              f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"]
    if trace:
        for k, v in (("enabled", "true"), ("dir", "file://" + evdir),
                     ("compress", "false"), ("rolling.enabled", "false")):
            submit += ["--conf", f"spark.eventLog.{k}={v}"]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--data", data, "--out", out, "--result", result_path]
    if trace:
        cmd.append("--trace")
    log_path = os.path.join(WORK, "logs", f"{workload}-{tag}.log")
    spawned = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        watch = Watch(proc.pid)
        watch.start()
        # Once the result is written nothing the benchmark reads is still
        # pending, so the tree is ended instead of waiting for its shutdown.
        deadline = time.monotonic() + WORKER_TIMEOUT_S
        while proc.poll() is None and not os.path.exists(result_path):
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except OSError:
            pass
        proc.wait()
        watch.stop.set()
        watch.join()
        watch.reap(proc.pid)
    res = {"error": f"worker exited {proc.returncode} without a result"}
    if os.path.exists(result_path):
        with open(result_path) as fh:
            res = json.load(fh)
    if res.get("error"):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        return res
    res["setup_s"] = res["ready"] - spawned
    res["peak_rss_mb"] = watch.peak / 2**20
    res["bytes_written"] = tree_bytes(out) + tree_bytes(exports)
    shutil.rmtree(exports, ignore_errors=True)
    if trace:
        logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        res["eventlog"] = logs[0] if len(logs) == 1 else None
    return res


# ------------------------------------------------------------------- checking

def check(workload: str, outputs: dict, pins: dict) -> list[str]:
    """Names of the operations whose output misses its pin."""
    want = pins.get(workload)
    if want is None:
        return ["<no pins>"]
    if workload == "query_mix":
        return [q for q in MIX if outputs.get(q) != want.get(q)]
    return [] if outputs == want else ["run"]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def print_table(rows: list[tuple[str, str, list[float]]]) -> None:
    print(f"{'metric':40} {'unit':>6} {'median':>14} {'q1':>14} {'q3':>14} {'n':>4}")
    for name, unit, xs in rows:
        if not xs:
            continue
        q1, med, q3 = quartiles(xs)
        print(f"{name:40} {unit:>6} {med:14.6g} {q1:14.6g} {q3:14.6g} {len(xs):4d}")


def end_to_end(workload: str, data: str, seed: int, seconds: float,
               pins: dict) -> tuple[dict, int, int]:
    input_bytes = sum(os.path.getsize(os.path.join(data, f"{t}.parquet"))
                      for t in WORKLOADS[workload])
    samples: dict[str, list[float]] = {m: [] for m, _, _ in END_TO_END}
    attempted = failed = it = 0
    t_start = time.monotonic()
    while True:
        t_it = time.monotonic()
        res = run_worker(workload, data, False, f"it{it}")
        it += 1
        n_ops = len(MIX) if workload == "query_mix" else 1
        attempted += n_ops
        if res.get("error"):
            failed += n_ops
        else:
            bad = check(workload, res["outputs"], pins)
            if bad:
                print(f"output mismatch in {workload} (seed {seed}): {bad}", file=sys.stderr)
            failed += len(bad)
            samples["setup_s"].append(res["setup_s"])
            samples["wall_s"].append(res["wall_s"])
            samples["write_amp"].append(res["bytes_written"] / input_bytes)
            samples["peak_rss_mb"].append(res["peak_rss_mb"])
            samples["query_p50_s"] += (list(res["query_s"].values())
                                       if workload == "query_mix" else [res["wall_s"]])
            if workload == "query_mix":
                print("query seconds: " + ", ".join(f"{q} {t:.2f}" for q, t in res["query_s"].items()))
        spent, last = time.monotonic() - t_start, time.monotonic() - t_it
        if spent + last > seconds:
            break
    return samples, attempted, failed


def traced(workload: str, data: str, pins: dict):
    """An untraced and a traced iteration; per-layer metrics of the
    traced one and its overhead against the untraced one."""
    import eventlog

    plain = run_worker(workload, data, False, "plain")
    tr = run_worker(workload, data, True, "traced")
    n_ops = len(MIX) if workload == "query_mix" else 1
    attempted, failed = 2 * n_ops, 0
    for res in (plain, tr):
        failed += n_ops if res.get("error") else len(check(workload, res["outputs"], pins))
    if failed or not tr.get("eventlog"):
        return {}, attempted, max(failed, 1)
    if plain["outputs"] != tr["outputs"]:
        print("traced outputs differ from untraced outputs", file=sys.stderr)
        return {}, attempted, n_ops
    roll = eventlog.rollup_file(tr["eventlog"], tr["spans"], cores())
    values = {}
    for sp, fields in SPAN_FIELDS.items():
        st = roll.spans.get(sp, eventlog.SpanStats())
        for f in fields:
            values[f"{sp}.{f}"] = getattr(st, f)
    values["setup.session.s"] = tr["session_s"]
    values["jvm.old_gen_peak_mb"] = tr["old_gen_peak_mb"]
    values["spark.failed_tasks"] = roll.failed_tasks
    values["trace.unattributed_s"] = tr["wall_s"] - sum(s["t1"] - s["t0"] for s in tr["spans"])
    values["trace.overhead"] = tr["wall_s"] / plain["wall_s"] - 1
    print(f"untraced wall_s {plain['wall_s']:.3f}  traced wall_s {tr['wall_s']:.3f}  "
          f"overhead {values['trace.overhead']:+.3%}  unattributed "
          f"{values['trace.unattributed_s']:.3f} s  jobs {roll.jobs_total}")
    return values, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", default=None, help="source sf0.1 tables")
    ap.add_argument("--record-pins", action="store_true",
                    help="write this run's outputs to pins.json instead of checking them")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pipeline_mf_etl_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    src = a.data_dir or default_data_dir()
    if not os.path.isdir(src):
        print(f"input tables not found: {src}", file=sys.stderr)
        return 2
    data = stage(src, a.seed, WORKLOADS[a.workload])
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as fh:
            pins = json.load(fh)

    if a.record_pins:
        res = run_worker(a.workload, data, False, "pins")
        if res.get("error"):
            return 1
        pins[a.workload] = res["outputs"]
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0

    if a.trace:
        values, attempted, failed = traced(a.workload, data, pins)
        if values:  # spans this workload never entered read 0 and are not shown
            ran = {n.rsplit(".", 1)[0] for n, v in values.items() if n.endswith(".s") and v}
            print_table([(m["name"], m["unit"], [values[m["name"]]]) for m in per_layer_metrics()
                         if m["name"].rsplit(".", 1)[0] in ran or m["name"].startswith(("jvm.", "spark.", "trace."))])
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in per_layer_metrics()} if values else {}
    else:
        samples, attempted, failed = end_to_end(a.workload, data, a.seed, a.seconds, pins)
        print_table([(m, u, samples[m]) for m, u, _ in END_TO_END]
                    + [("op_fail_ratio", "ratio", [failed / attempted])])
        metrics = {m: {"value": statistics.median(samples[m]), "unit": u}
                   for m, u, _ in END_TO_END if samples[m]}
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
