"""Expected results from the repo's numpy oracle, and the checks against them.

``compute`` produces every result the workload's job produces with
``grappolo_spark.oracle`` and stores it under ``expected_path(input_dir)``;
the runner calls it once per input and job parameter set, outside every
timed section. ``check`` compares one job's collected results with
that file and returns the list of mismatches (empty = correct).
"""

from __future__ import annotations

import hashlib
import pathlib

import numpy as np

# job parameters shared by the engine calls (job.py) and the oracle calls
PR_FIXED_ITERS = 6         # ctx-dense: fixed-iteration PageRank (tol=0)
PR_CUT_EVERY = 3           # ctx-dense: supersteps chained per lineage cut
PR_TOL = 2e-4              # reply-ingest-ckpt: PageRank to tolerance
PR_MAX_ITER = 100
PR_STOP_AT = 5             # reply-ingest-ckpt: first PageRank call stops here
CKPT_EVERY = 5             # PageRank durable checkpoint interval
LV_MAX_INNER = 2           # Louvain sweep cap per phase (engine and oracle)
LPA_MAX_ITER = 20
CC_MAX_ITER = 50

# PageRank gate (the repo's allclose-1e-6 contract, relative to the rank)
PR_RTOL = 1e-6
PR_ATOL = 1e-9


def expected_path(input_dir: pathlib.Path) -> pathlib.Path:
    params = (PR_FIXED_ITERS, PR_CUT_EVERY, PR_TOL, PR_MAX_ITER, PR_STOP_AT,
              CKPT_EVERY, LV_MAX_INNER, LPA_MAX_ITER, CC_MAX_ITER)
    digest = hashlib.sha1(repr(params).encode()).hexdigest()[:12]
    return input_dir / f"expected-{digest}.npz"


def load_edges(input_dir: pathlib.Path):
    z = np.load(input_dir / "graph.npz")
    return z["src"], z["dst"], z["weight"], int(z["nv"])


def compute(input_dir: pathlib.Path, workload: str) -> None:
    from grappolo_spark.oracle import (
        connected_components_np,
        label_propagation_np,
        louvain_multiphase_np,
        pagerank_np,
        triangle_counts_np,
    )

    src, dst, w, nv = load_edges(input_dir)
    rows = list(zip(src.tolist(), dst.tolist(), w.tolist()))
    lv = louvain_multiphase_np(rows, nv, max_inner=LV_MAX_INNER)
    out = {
        "louvain_c": np.asarray(lv["C"], dtype=np.int64),
        "louvain_modularity": np.float64(lv["modularity"]),
    }
    if workload == "ctx-dense":
        ranks, _ = pagerank_np(rows, nv, tol=0.0, max_iter=PR_FIXED_ITERS)
        labels, lpa_rounds = label_propagation_np(rows, nv, max_iter=LPA_MAX_ITER)
        per_vertex, total = triangle_counts_np(rows, nv)
        out.update(
            pagerank=ranks,
            labelprop=np.asarray(labels, dtype=np.int64),
            labelprop_rounds=np.int64(lpa_rounds),
            triangles=np.asarray(per_vertex, dtype=np.int64),
            triangles_total=np.int64(total),
        )
    else:
        ranks, pr_iters = pagerank_np(rows, nv, tol=PR_TOL, max_iter=PR_MAX_ITER)
        if pr_iters <= PR_STOP_AT:
            raise ValueError(f"PageRank converges in {pr_iters} iterations: "
                             f"the resume after {PR_STOP_AT} would be empty")
        out.update(
            pagerank=ranks,
            pagerank_iters=np.int64(pr_iters),
            components=np.asarray(connected_components_np(rows, nv), dtype=np.int64),
        )
    tmp = input_dir / "expected.tmp.npz"
    np.savez(tmp, **out)
    tmp.rename(expected_path(input_dir))


def _by_vid(table, col: str, nv: int) -> np.ndarray | None:
    """Dense per-vertex array from a collected (vid, col) Arrow table, or
    None unless it holds each of the nv vertices exactly once."""
    vid = table.column("vid").to_numpy()
    val = table.column(col).to_numpy()
    if len(vid) != nv or len(np.unique(vid)) != nv or vid.min() != 0 or vid.max() != nv - 1:
        return None
    out = np.empty(nv, dtype=val.dtype)
    out[vid] = val
    return out


def check(exp, got: dict, nv: int) -> list[str]:
    """Mismatches between one job's results ``got`` and the oracle ``exp``."""
    bad = []

    def exact(name, table, col, key):
        arr = _by_vid(table, col, nv)
        if arr is None:
            bad.append(f"{name}: vertex set is not 0..{nv - 1}")
        elif not np.array_equal(arr, exp[key]):
            bad.append(f"{name}: {int((arr != exp[key]).sum())} vertices differ")

    if "edges" in got:
        e = got["edges"]
        src, dst, w = (e.column(c).to_numpy() for c in ("src", "dst", "weight"))
        order = np.lexsort((dst, src))
        want = exp["edges"]
        if not (len(src) == len(want[0]) and all(
                np.array_equal(a[order], b) for a, b in zip((src, dst, w), want))):
            bad.append("etl.build_edges: edge table differs")
        if got["nv"] != nv:
            bad.append(f"etl.build_edges: {got['nv']} vertices, expected {nv}")

    exact("louvain", got["louvain_c"], "comm", "louvain_c")
    if got["louvain_modularity"] != float(exp["louvain_modularity"]):
        bad.append(f"louvain: modularity {got['louvain_modularity']!r} != "
                   f"{float(exp['louvain_modularity'])!r}")

    ranks = _by_vid(got["pagerank"], "rank", nv)
    if ranks is None or not np.allclose(ranks, exp["pagerank"], rtol=PR_RTOL, atol=PR_ATOL):
        bad.append("pagerank: ranks differ from the oracle")
    if "pagerank_iters" in exp and got["pagerank_iters"] != int(exp["pagerank_iters"]):
        bad.append(f"pagerank: resumed run stopped at iteration {got['pagerank_iters']}, "
                   f"uninterrupted oracle at {int(exp['pagerank_iters'])}")

    if "labelprop" in exp:
        exact("label_propagation", got["labelprop"], "label", "labelprop")
        if got["labelprop_rounds"] != int(exp["labelprop_rounds"]):
            bad.append("label_propagation: round count differs")
    if "triangles" in exp:
        exact("triangles", got["triangles"], "triangles", "triangles")
        if got["triangles_total"] != int(exp["triangles_total"]):
            bad.append("triangles: total differs")
    if "components" in exp:
        exact("connected_components", got["components"], "component", "components")
        if got["components_rounds"] >= CC_MAX_ITER:
            bad.append(f"connected_components: stopped at max_iter={CC_MAX_ITER}")
    return bad
