"""Seeded benchmark inputs, generated with numpy alone.

The program under test never generates its own input: the transcript
table and the context-window edge table are built here from ``--seed``,
written as Parquet under ``.bench_work/inputs/<key>/`` and reused by every
run with the same (workload, seed, size). The generator shares no code
with ``grappolo_spark.synth`` or ``grappolo_spark.etl``, so the parent
commit and a change read identical bytes even when those modules change.

Vertex numbering follows the engine's ETL contract: turn vertices are
dense ids ordered by ``(conv_id, turn_idx)`` (conv ids are zero-padded,
so string order is numeric order) and tool vertices follow, ordered by
tool name. ``expected_edges`` therefore also serves as the oracle for
``etl.build_edges`` on the transcript table.
"""

from __future__ import annotations

import os
import pathlib
import shutil

import numpy as np

TOOLS = ("browser", "calculator", "files", "python", "search", "sql")
VOCAB = (
    "graph", "vertex", "edge", "community", "modularity", "rank", "cluster",
    "spark", "shuffle", "partition", "join", "degree", "weight", "phase",
    "iteration", "gain", "color", "frontier", "triangle", "component",
    "label", "propagate", "coarsen", "superstep", "arrow", "batch", "hash",
)


class Corpus:
    """Per-turn columns of a synthetic transcript corpus, in
    ``(conv_id, turn_idx)`` order."""

    def __init__(self, seed: int, n_convs: int, max_turns: int):
        rng = np.random.default_rng([seed, n_convs, max_turns])
        self.turns_per_conv = rng.integers(4, max_turns + 1, size=n_convs)
        self.conv = np.repeat(np.arange(n_convs), self.turns_per_conv)
        starts = np.cumsum(self.turns_per_conv) - self.turns_per_conv
        self.turn_idx = np.arange(len(self.conv)) - np.repeat(starts, self.turns_per_conv)
        odd = self.turn_idx % 2 == 1
        is_tool = odd & (rng.random(len(self.conv)) < 0.2)
        # -1 = no tool on this turn
        self.tool = np.where(is_tool, rng.integers(0, len(TOOLS), size=len(self.conv)), -1)
        self.role = np.where(self.turn_idx % 2 == 0, 0, np.where(is_tool, 2, 1))
        self.n_words = rng.integers(6, 19, size=len(self.conv))
        self.words = rng.integers(0, len(VOCAB), size=int(self.n_words.sum()))
        self.jitter = rng.integers(0, 59, size=len(self.conv))

    @property
    def n_turns(self) -> int:
        return len(self.conv)

    def transcript_table(self):
        """The ``(conv_id, turn_idx, role, text, tool, ts)`` table."""
        import pyarrow as pa

        roles = np.array(["user", "assistant", "tool"], dtype=object)
        vocab = np.array(VOCAB, dtype=object)
        bounds = np.cumsum(self.n_words)[:-1]
        text = [" ".join(ws) for ws in np.split(vocab[self.words], bounds)]
        tool = [TOOLS[t] if t >= 0 else None for t in self.tool.tolist()]
        ts_s = 1_735_689_600 + self.conv * 86_400 + self.turn_idx * 60 + self.jitter
        return pa.table({
            "conv_id": [f"conv_{c:07d}" for c in self.conv.tolist()],
            "turn_idx": pa.array(self.turn_idx, pa.int32()),
            "role": roles[self.role].tolist(),
            "text": text,
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
        })

    def expected_edges(self, window: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
        """Symmetric ``(src, dst, weight)`` arrays sorted by (src, dst), and nv.

        Each turn links to the ``window`` previous turns of its
        conversation and, on a tool turn, to that tool's vertex; every
        pair occurs once, so every weight is 1.0.
        """
        vid = np.arange(self.n_turns)
        us, vs = [], []
        for k in range(1, window + 1):
            m = self.turn_idx >= k
            us.append(vid[m])
            vs.append(vid[m] - k)
        used = np.unique(self.tool[self.tool >= 0])
        tool_vid = np.full(len(TOOLS), -1)
        tool_vid[used] = self.n_turns + np.arange(len(used))
        m = self.tool >= 0
        us.append(vid[m])
        vs.append(tool_vid[self.tool[m]])
        u = np.concatenate(us)
        v = np.concatenate(vs)
        src = np.concatenate([u, v]).astype(np.int64)
        dst = np.concatenate([v, u]).astype(np.int64)
        order = np.lexsort((dst, src))
        src, dst = src[order], dst[order]
        return src, dst, np.ones(len(src)), self.n_turns + len(used)


def materialize(root: pathlib.Path, key: str, build) -> pathlib.Path:
    """Return ``root/key``, building it with ``build(tmp_dir)`` once.

    The directory is renamed into place only when complete, so a run cut
    mid-write never leaves a half-written input behind."""
    final = root / key
    if (final / "meta.json").exists():
        return final
    tmp = root / f".{key}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final


def write_graph(out: pathlib.Path, src, dst, weight, nv: int) -> None:
    """The expected edge table as arrays, for the oracle and the ETL check."""
    np.savez(out / "graph.npz", src=src, dst=dst, weight=weight, nv=nv)


def write_transcripts(out: pathlib.Path, corpus: Corpus) -> None:
    import pyarrow.parquet as pq

    pq.write_table(corpus.transcript_table(), out / "transcripts.parquet")


def write_edges(out: pathlib.Path, src, dst, weight) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"src": src, "dst": dst, "weight": weight}),
                   out / "edges.parquet")
