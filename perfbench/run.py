"""Benchmark runner: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the repository root.

One run:

1. builds the workload's input from the seed (numpy only, cached under
   ``.bench_work/inputs``) and, once per input, the oracle's expected
   results; the first run of a workload in a checkout also makes one
   untimed warm launch of the engine;
2. launches ``SETUP_PROBES`` engine processes that only set up, for
   ``setup_s``;
3. launches fresh engine processes, each setting up and running the job
   once, until S seconds have passed (at least one; two with tracing,
   one untraced and one traced), each checked against the oracle;
4. prints one JSON line: end-to-end metrics (trace 0) or per-layer
   metrics (trace 1).

Every engine process runs at ``local[<cores>]`` with a fixed driver heap
and spill directory inside ``.bench_work``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import expected, inputs  # noqa: E402
from perfbench.proctree import RssSampler, wait_gone  # noqa: E402

WORK = ROOT / ".bench_work"
DRIVER_MEM = "1g"
SETUP_PROBES = 1
RUN_LIMIT_S = 165  # a run ends, with or without a result, within 180 s

# (n_convs, max_turns, window) per workload
SIZES = {
    "ctx-dense": (60, 50, 16),
    "reply-ingest-ckpt": (300, 5, 1),
}

CALLS = (
    "session.get_spark",
    "etl.build_edges",
    "operators.pagerank.pagerank",
    "operators.louvain.louvain",
    "operators.labelprop.label_propagation",
    "operators.triangles.triangles",
    "operators.components.connected_components",
    "checkpoint.CheckpointManager.save",
    "checkpoint.CheckpointManager.load_latest",
)
CALL_FIELDS = ("wall_s", "task_s", "core_util", "stages", "tasks",
               "shuffle_write_mb", "spill_mb", "gc_s")
UNITS = {"wall_s": "s", "task_s": "s", "core_util": "ratio", "stages": "count",
         "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s"}


class Failure(Exception):
    """The run cannot produce a result."""


def build_input(workload: str, seed: int) -> pathlib.Path:
    n_convs, max_turns, window = SIZES[workload]

    def build(out: pathlib.Path) -> None:
        corpus = inputs.Corpus(seed, n_convs, max_turns)
        src, dst, weight, nv = corpus.expected_edges(window)
        inputs.write_graph(out, src, dst, weight, nv)
        if workload == "ctx-dense":
            inputs.write_edges(out, src, dst, weight)
            table = "edges.parquet"
        else:
            inputs.write_transcripts(out, corpus)
            table = "transcripts.parquet"
        (out / "meta.json").write_text(json.dumps(dict(
            table=table, nv=nv, rows=len(src), seed=seed,
            n_convs=n_convs, max_turns=max_turns, window=window)))

    key = f"{workload}-s{seed}-c{n_convs}-t{max_turns}-w{window}"
    return inputs.materialize(WORK / "inputs", key, build)


def cpu_units() -> float:
    """Single-core capacity probe: fixed pure-Python loops per second."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return 1.0 / (time.perf_counter() - t0)


def child_env() -> dict:
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=str(WORK / "spark-local"),
        TMPDIR=str(tmp),
        # every JVM, the spark-submit launcher included, keeps its temp
        # files inside the work directory and writes no perf-data file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def launch(workload: str, input_dir: pathlib.Path, mode: str, deadline: float,
           traced: bool = False) -> dict:
    """Run one engine process to completion, killing it at ``deadline``
    (monotonic); returns its launch time, events and RSS sampler."""
    run_dir = WORK / "run"
    run_dir.mkdir(parents=True, exist_ok=True)
    log = WORK / "logs" / f"{workload}-{os.getpid()}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = [sys.executable, str(HERE / "job.py"), "--workload", workload,
           "--input", str(input_dir), "--work", str(run_dir), "--mode", mode,
           "--trace", str(int(traced))]
    events = []
    with open(log, "a") as err:
        t_launch = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=child_env(), stdout=subprocess.PIPE,
                                stderr=err, text=True)
        with RssSampler(proc.pid) as sampler:
            reader = threading.Thread(target=_read_events, args=(proc.stdout, events))
            reader.start()
            try:
                proc.wait(timeout=max(0.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            reader.join()
    # the JVM and the Python workers outlive the driver process briefly
    wait_gone(sampler.seen, timeout_s=max(0.0, min(30.0, deadline - time.monotonic())))
    if proc.returncode != 0 or not events:
        tail = log.read_text()[-3000:]
        raise Failure(f"engine process ({mode}) exited with {proc.returncode}:\n{tail}")
    return {"t_launch": t_launch, "events": events, "sampler": sampler}


def _read_events(stream, events: list) -> None:
    for line in stream:
        if line.startswith("@@perfbench "):
            events.append(json.loads(line[len("@@perfbench "):]))


def setup_seconds(child: dict) -> float:
    ready = next(e for e in child["events"] if e["event"] == "ready")
    return ready["t"] - child["t_launch"]


def superstep_edges_per_s(job: dict) -> float:
    steps = [s for s in job["spans"] if "supersteps" in s]
    return sum(s["edge_rows"] * s["supersteps"] for s in steps) / sum(s["wall_s"] for s in steps)


def median(xs) -> float:
    return float(statistics.median(xs))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(SIZES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "grappolo_spark" / "__init__.py").is_file():
        print(f"perfbench: no grappolo_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        return run(args)
    except Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1


def run(args) -> int:
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    for leftover in ("run", "spark-local", "tmp", "logs"):
        shutil.rmtree(WORK / leftover, ignore_errors=True)
    input_dir = build_input(args.workload, args.seed)
    units_before = cpu_units()

    if not expected.expected_path(input_dir).exists():
        expected.compute(input_dir, args.workload)
    warm = WORK / f"warm-{args.workload}"
    if not warm.exists():
        # the first launch in a checkout compiles bytecode and fills the
        # page cache; it is never timed
        launch(args.workload, input_dir, "setup", deadline)
        warm.touch()

    # set-up-only launches: more set-up samples at a fraction of a job's cost
    setup = [] if args.trace else [
        setup_seconds(launch(args.workload, input_dir, "setup", deadline))
        for _ in range(SETUP_PROBES)]
    jobs = []
    start = last = time.monotonic()
    while len(jobs) < 1 + args.trace or (
            time.monotonic() - start < args.seconds
            and deadline - time.monotonic() > 2 * (time.monotonic() - last)):
        # a trace run alternates untraced and traced processes
        traced = bool(args.trace and len(jobs) % 2)
        last = time.monotonic()
        child = launch(args.workload, input_dir, "job", deadline, traced)
        job = next(e for e in child["events"] if e["event"] == "job")
        job["setup_s"] = setup_seconds(child)
        job["peak_rss_mb"] = child["sampler"].peak_between(job["t0"], job["t1"]) / (1 << 20)
        job["job_s"] = job["t1"] - job["t0"]
        job["setup_spans"] = next(e for e in child["events"] if e["event"] == "ready")["spans"]
        jobs.append(job)
    units_after = cpu_units()

    failed = [j for j in jobs if j["errors"]]
    for j in failed:
        print(f"perfbench: job failed: {j['errors']}", file=sys.stderr)
    ok = [j for j in jobs if not j["errors"]]
    if not ok:
        raise Failure("no job passed its checks")

    host = (units_before + units_after) / 2
    if args.trace:
        metrics = trace_metrics(ok, host)
    else:
        metrics = {
            "job_s": (median(j["job_s"] for j in ok), "s"),
            "setup_s": (median(setup + [j["setup_s"] for j in jobs]), "s"),
            "superstep_edges_per_s": (median(superstep_edges_per_s(j) for j in ok), "1/s"),
            "peak_rss_mb": (median(j["peak_rss_mb"] for j in ok), "MB"),
            "cpu_s": (median(j["cpu_s"] for j in ok), "s"),
        }
    for j in jobs:
        calls = ", ".join(f"{s['name'].rsplit('.', 1)[-1]}={s['wall_s']:.2f}" for s in j["spans"])
        print(f"perfbench: traced={j['traced']} setup_s={j['setup_s']:.3f} "
              f"job_s={j['job_s']:.3f} cpu_s={j.get('cpu_s', 0):.1f} "
              f"peak_rss_mb={j['peak_rss_mb']:.0f} [{calls}]", file=sys.stderr)
    print(f"perfbench: host.cpu_units before={units_before:.3f} after={units_after:.3f}; "
          f"run took {time.monotonic() - t_start:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(jobs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def trace_metrics(jobs: list[dict], host: float) -> dict:
    traced = [j for j in jobs if j["traced"]]
    plain = [j for j in jobs if not j["traced"]]
    if not traced or not plain:
        raise Failure("trace run needs a passing traced and untraced job")
    per_job = [_sum_calls(j["spans"] + j["setup_spans"]) for j in traced]
    out = {}
    for call in CALLS:
        for f in CALL_FIELDS:
            out[f"{call}.{f}"] = (median(a.get(call, {}).get(f, 0.0) for a in per_job), UNITS[f])

    def counter(job, call, key):
        return sum(s.get(key, 0) for s in job["spans"] if s["name"] == call)

    counters = {
        "operators.pagerank.iters": ("operators.pagerank.pagerank", "supersteps"),
        "operators.louvain.phases": ("operators.louvain.louvain", "phases"),
        "operators.louvain.total_iters": ("operators.louvain.louvain", "supersteps"),
        "operators.labelprop.rounds": ("operators.labelprop.label_propagation", "supersteps"),
        "operators.components.rounds": ("operators.components.connected_components", "supersteps"),
        "operators.triangles.count": ("operators.triangles.triangles", "count"),
    }
    for name, (call, key) in counters.items():
        out[name] = (median(counter(j, call, key) for j in traced), "count")
    out["checkpoint.save.calls"] = (
        median(sum(s["name"] == "checkpoint.CheckpointManager.save" for s in j["spans"])
               for j in traced), "count")
    out["checkpoint.bytes_mb"] = (median(j.get("checkpoint_mb", 0.0) for j in traced), "MB")
    out["trace.job_s"] = (median(j["job_s"] for j in traced), "s")
    out["trace.untraced_job_s"] = (median(j["job_s"] for j in plain), "s")
    out["trace.overhead_s"] = (out["trace.job_s"][0] - out["trace.untraced_job_s"][0], "s")
    out["host.cpu_units"] = (host, "1/s")
    return out


def _sum_calls(spans: list[dict]) -> dict:
    """Per call name: sums of the span fields, core_util recomputed."""
    acc: dict = {}
    for s in spans:
        a = acc.setdefault(s["name"], {})
        for f in CALL_FIELDS:
            if f != "core_util":
                a[f] = a.get(f, 0.0) + s.get(f, 0.0)
        a["_cores_wall"] = a.get("_cores_wall", 0.0) + s["wall_s"] * s.get("cores", 0)
    for a in acc.values():
        cores_wall = a.pop("_cores_wall")
        a["core_util"] = a["task_s"] / cores_wall if cores_wall else 0.0
    return acc


if __name__ == "__main__":
    sys.exit(main())
