"""Output checks. Each returns a list of problems; an operation with any
problem counts as failed (`Tally.record`)."""

from __future__ import annotations

import datetime as dt
import hashlib
import math


def _canon(v) -> str:
    """One spelling per value across Spark rows and DuckDB rows."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return repr(v)


def table_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    as a sorted multiset (the repository's oracle-parity comparison)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def check_panels(got: dict, want: dict) -> list[str]:
    """got/want: panel name -> table_hash."""
    return [f"panel {n}: hash differs from oracle" for n in want if got.get(n) != want[n]]


def check_answer(
    out: dict, targets: dict, gone: dict, deleted_ids: set, chunk_stride: int
) -> list[str]:
    """Checks one answer() result.

    targets: query_id -> (doc_id, text, source) of a live needle; it must
    rank first in the ANN and BM25 arms and in RRF, its chunk must be
    document #1 of the context and its contribution contribution #1.
    gone: query_id -> (doc_id, text) of a deleted needle; its id must be
    absent from every arm and its text from every context.
    deleted_ids: every id deleted so far; none may appear in any arm.
    Arm ids are doc ids, except the exact arm's chunk ids
    (doc_id * chunk_stride + chunk_index).
    """
    stride = {"exact": chunk_stride, "ann": 1, "bm25": 1, "contrib": 1}
    problems = []
    for qid, (doc_id, text, source) in targets.items():
        fused = out["rrf"].get(qid) or []
        if not fused or fused[0][0] != doc_id:
            problems.append(f"q{qid}: needle {doc_id} not first in RRF")
        elif fused[0][2] != 1 or fused[0][3] != 1:
            problems.append(f"q{qid}: needle {doc_id} lex/vec ranks {fused[0][2:]}")
        ctx = out["context"].get(qid) or ""
        if f"DOCUMENT #1 (from {source}):\n{text}\n" not in ctx:
            problems.append(f"q{qid}: needle chunk is not document #1 of the context")
        if f"CONTRIBUTION #1:\nQuestion: {text}\n" not in ctx:
            problems.append(f"q{qid}: needle is not contribution #1 of the context")
        for arm, ids in out.get("arms", {}).items():
            first = (ids.get(qid) or [None])[0]
            want = doc_id * stride[arm]
            if first != want:
                problems.append(f"q{qid}: {arm} arm ranks {first} first, want {want}")
    gone_texts = [t for _, t in gone.values()]
    for qid, ctx in out["context"].items():
        for t in gone_texts:
            if t in ctx:
                problems.append(f"q{qid}: deleted needle text in context")
    for qid, fused in out["rrf"].items():
        hit = {d for d, *_ in fused} & deleted_ids
        if hit:
            problems.append(f"q{qid}: deleted ids {sorted(hit)[:5]} in ANN/BM25 results")
    for arm, by_q in out.get("arms", {}).items():
        for qid, ids in by_q.items():
            hit = {i // stride[arm] for i in ids} & deleted_ids
            if hit:
                problems.append(f"q{qid}: deleted ids {sorted(hit)[:5]} in {arm} arm")
    return problems



class Tally:
    """Attempted and failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, problems: list[str]) -> bool:
        """Count one operation; it failed if its checks found problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:5])
        return not problems
