"""One engine process of the benchmark: set up, then run the workload's job.

``run.py`` launches this file as a fresh Python process and reads its
progress as ``@@perfbench <json>`` lines on stdout, each carrying
``time.monotonic()`` stamps (the clock is system-wide, so the launcher
can put them next to its own launch time and RSS samples).

``--mode setup`` stops once the input is pinned; ``--mode job`` then
runs the workload's job once, as a fresh batch job would, and checks it
against the oracle outside its timed window. ``--trace 1`` records
status-store counters for every call of the job.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import sys
import time
import traceback

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import numpy as np  # noqa: E402

from perfbench import expected as ex  # noqa: E402
from perfbench import proctree  # noqa: E402
from perfbench.trace import StatusStore, TracedCheckpoint, Tracer  # noqa: E402


def emit(**event) -> None:
    print("@@perfbench " + json.dumps(event), flush=True)


def ctx_dense_job(spark, edges, meta, tracer, ck_dir) -> dict:
    """Triangles, fixed-iteration PageRank, multi-phase Louvain and label
    propagation on the pinned context-window edge table."""
    from grappolo_spark.operators.labelprop import label_propagation
    from grappolo_spark.operators.louvain import louvain
    from grappolo_spark.operators.pagerank import pagerank
    from grappolo_spark.operators.triangles import triangles

    nv, rows = meta["nv"], meta["rows"]
    got = {}
    # triangles first: the first call of a fresh process pays the JVM
    # warm-up, and triangles is the one call outside superstep_edges_per_s
    with tracer.span("operators.triangles.triangles") as sp:
        tri, total = triangles(spark, edges, nv)
        got["triangles"] = tri.toArrow()
        got["triangles_total"] = sp["count"] = total
    with tracer.span("operators.pagerank.pagerank", edge_rows=rows) as sp:
        ranks, sp["supersteps"] = pagerank(
            spark, edges, nv, tol=0.0, max_iter=ex.PR_FIXED_ITERS, cut_every=ex.PR_CUT_EVERY)
        got["pagerank"] = ranks.toArrow()
    with tracer.span("operators.louvain.louvain", edge_rows=rows) as sp:
        res = louvain(spark, edges, nv, method="arrow", max_inner=ex.LV_MAX_INNER)
        got["louvain_c"] = res.c.toArrow()
        got["louvain_modularity"] = res.modularity
        sp.update(supersteps=res.total_iters, phases=res.phases)
    with tracer.span("operators.labelprop.label_propagation", edge_rows=rows) as sp:
        labels, sp["supersteps"] = label_propagation(spark, edges, nv, max_iter=ex.LPA_MAX_ITER)
        got["labelprop"] = labels.toArrow()
        got["labelprop_rounds"] = sp["supersteps"]
    return got


def reply_ingest_ckpt_job(spark, transcripts, meta, tracer, ck_dir) -> dict:
    """ETL from transcripts, then components, Louvain and a PageRank that
    is stopped and resumed, all three checkpointing to Parquet."""
    from grappolo_spark.checkpoint import CheckpointManager
    from grappolo_spark.etl import build_edges
    from grappolo_spark.operators.components import connected_components
    from grappolo_spark.operators.louvain import louvain
    from grappolo_spark.operators.pagerank import pagerank

    rows = meta["rows"]
    ck = CheckpointManager(spark, str(ck_dir))
    if tracer.store is not None:
        ck = TracedCheckpoint(ck, tracer)
    got = {}
    with tracer.span("etl.build_edges"):
        edges, turns, tools = build_edges(transcripts)
        edges = edges.localCheckpoint(eager=True)
        nv = got["nv"] = turns.count() + tools.count()
    with tracer.span("operators.components.connected_components", edge_rows=rows) as sp:
        comp, sp["supersteps"] = connected_components(
            spark, edges, nv, max_iter=ex.CC_MAX_ITER, checkpoint=ck)
        got["components"] = comp.toArrow()
        got["components_rounds"] = sp["supersteps"]
    with tracer.span("operators.louvain.louvain", edge_rows=rows) as sp:
        res = louvain(spark, edges, nv, method="arrow", max_inner=ex.LV_MAX_INNER, checkpoint=ck)
        got["louvain_c"] = res.c.toArrow()
        got["louvain_modularity"] = res.modularity
        sp.update(supersteps=res.total_iters, phases=res.phases)
    with tracer.span("operators.pagerank.pagerank", edge_rows=rows) as sp:
        _, stopped = pagerank(spark, edges, nv, tol=ex.PR_TOL, max_iter=ex.PR_STOP_AT,
                              checkpoint=ck, checkpoint_every=ex.CKPT_EVERY)
        sp["supersteps"] = stopped
    with tracer.span("operators.pagerank.pagerank", edge_rows=rows) as sp:
        # a second call resumes from the last manifest the first one wrote
        ranks, iters = pagerank(spark, edges, nv, tol=ex.PR_TOL, max_iter=ex.PR_MAX_ITER,
                                checkpoint=ck, checkpoint_every=ex.CKPT_EVERY)
        got["pagerank"] = ranks.toArrow()
        got["pagerank_iters"] = iters
        sp["supersteps"] = iters - stopped
    got["edges"] = edges  # pinned above; collected for the check after the timed window
    return got


JOBS = {"ctx-dense": ctx_dense_job, "reply-ingest-ckpt": reply_ingest_ckpt_job}


def dir_mb(path: pathlib.Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / (1 << 20)


def run_one(spark, args, data, meta, exp, tracer) -> dict:
    """Run, time and check one job; returns its event record."""
    ck_dir = pathlib.Path(args.work) / f"ckpt-{os.getpid()}"
    shutil.rmtree(ck_dir, ignore_errors=True)
    tracer.spans = []
    cpu0 = proctree.cpu_seconds(proctree.tree_pids(os.getpid()))
    t0 = time.monotonic()
    rec = {"traced": tracer.store is not None}
    try:
        got = JOBS[args.workload](spark, data, meta, tracer, ck_dir)
        t1 = time.monotonic()
        rec["cpu_s"] = proctree.cpu_seconds(proctree.tree_pids(os.getpid())) - cpu0
        if "edges" in got:
            got["edges"] = got["edges"].toArrow()
        rec["errors"] = ex.check(exp, got, meta["nv"])
    except Exception:  # a failed job is reported, never timed
        t1 = time.monotonic()
        rec["errors"] = [traceback.format_exc(limit=8)]
    rec.update(t0=t0, t1=t1, spans=tracer.spans)
    if ck_dir.exists():
        rec["checkpoint_mb"] = dir_mb(ck_dir)
        shutil.rmtree(ck_dir, ignore_errors=True)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(JOBS), required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--mode", choices=("setup", "job"), required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from grappolo_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        # the status store must hold every stage of a job (~10^3 on the
        # reply workload) for the traced spans to see them all
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.ui.retainedJobs"] = "100000"
    tracer = Tracer()
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    setup_spans = tracer.spans
    spark.range(1).count()  # first trivial job

    input_dir = pathlib.Path(args.input)
    meta = json.loads((input_dir / "meta.json").read_text())
    data = spark.read.parquet(str(input_dir / meta["table"])).localCheckpoint(eager=True)
    emit(event="ready", t=time.monotonic(), spans=setup_spans)
    if args.mode == "setup":
        spark.stop()
        return

    z = np.load(ex.expected_path(input_dir))
    exp = {k: z[k] for k in z.files}
    if args.workload == "reply-ingest-ckpt":
        exp["edges"] = ex.load_edges(input_dir)[:3]
    tracer.store = StatusStore(spark) if args.trace else None
    emit(event="job", **run_one(spark, args, data, meta, exp, tracer))
    spark.stop()


if __name__ == "__main__":
    main()
