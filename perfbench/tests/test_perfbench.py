"""Tests of the benchmark's own logic: the tail rule, the generator's
determinism and the checks that turn a wrong output into a failed
operation. Run with: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import datetime as dt
import filecmp
import os

import pytest

import checks
import gen
import spans
import stats

SMALL = {"base_docs": 300, "needles": 20, "events": 2_000, "users": 50}


# -- per-layer medians -----------------------------------------------------
def test_layer_metrics_use_the_first_phase_a_layer_ran_in():
    tr = object.__new__(spans.Tracer)
    tr.spans = [
        {"name": "build", "phase": "setup", "execute_s": 10.0, "jobs": 4},
        {"name": "build", "phase": "churn", "execute_s": 1.0, "jobs": 2},
        {"name": "search", "phase": "measure", "execute_s": 2.0},
        {"name": "search", "phase": "measure", "execute_s": 4.0},
        {"name": "search", "phase": "churn", "execute_s": 90.0},
        {"name": "append", "phase": "churn", "execute_s": 3.0},
        {"name": "op.answer", "phase": "measure"},
    ]
    assert tr.layer_metrics() == {
        "build.execute_s": 10.0,
        "build.jobs": 4,
        "search.execute_s": 3.0,
        "append.execute_s": 3.0,
    }


# -- tail rule -----------------------------------------------------------
@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_undefined_below_eleven_samples(n):
    assert stats.tail([float(i) for i in range(n)]) is None


def test_tail_at_eleven_samples_is_the_minimum():
    pct, value = stats.tail([float(i) for i in reversed(range(11))])
    assert value == 0.0
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n,want_index,want_pct", [(20, 9, 50.0), (100, 89, 90.0), (1000, 989, 99.0)])
def test_tail_leaves_exactly_ten_samples_beyond(n, want_index, want_pct):
    samples = [float(i) for i in range(n)][::-1]
    pct, value = stats.tail(samples)
    assert value == want_index
    assert pct == pytest.approx(want_pct)
    assert sum(s > value for s in samples) == stats.TAIL_BEYOND


def test_p50():
    assert stats.p50([]) is None
    assert stats.p50([3.0, 1.0, 2.0]) == 2.0


# -- generator -----------------------------------------------------------
def _files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.generate(7, str(a), SMALL)
    gen.generate(7, str(b), SMALL)
    gen.generate(8, str(c), SMALL)
    names = _files(a)
    assert names == ["documents.parquet", "events.parquet", "questions.parquet", "vectors.parquet"]
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert sorted(mismatch) == names


def test_churn_batch_is_deterministic_and_uses_fresh_ids():
    x = gen.churn_batch(3, 0, 1000, 50)
    y = gen.churn_batch(3, 0, 1000, 50)
    z = gen.churn_batch(3, 1, x[3], 58)
    assert all(p.equals(q) for p, q in zip(x[:3], y[:3]))
    assert min(z[0].column("doc_id").to_pylist()) >= x[3]


def test_needles_are_the_only_approved_top_rated_documents(tmp_path):
    import pyarrow.parquet as pq

    meta = gen.generate(5, str(tmp_path), SMALL)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    qs = pq.read_table(tmp_path / "questions.parquet").to_pydict()
    assert meta["rows"]["questions"] == SMALL["needles"]
    text = dict(zip(docs["doc_id"], docs["text"]))
    for d, t in zip(qs["doc_id"], qs["query_text"]):
        assert text[d] == t and len(t) < 100  # one chunk, whole question
    # sources/tables.py FEEDBACK_SQL: approved iff id % 5 < 3, rating
    # 5.0 iff (id * 7) % 11 == 10.
    top = {d for d in docs["doc_id"] if d % 5 < 3 and (d * 7) % 11 == 10}
    assert top == set(qs["doc_id"])


# -- checks --------------------------------------------------------------
STRIDE = 1 << 16
NEEDLE = (25, "alpha beta qqqq", "src5")


def _good_answer():
    doc, text, src = NEEDLE
    ctx = (
        "USER CONTRIBUTIONS AND ENHANCEMENTS:\n"
        f"USER CONTRIBUTION #1:\nQuestion: {text}\nAnswer: \nRating: 5.0/5.0 (Similarity: 1.00)"
        "\n\nORIGINAL KNOWLEDGE BASE:\n"
        f"DOCUMENT #1 (from {src}):\n{text}\n(Similarity: 1.00)"
    )
    return {
        "context": {1: ctx, 2: "ORIGINAL KNOWLEDGE BASE:\nDOCUMENT #1 (from src1):\nx\n"},
        "rrf": {1: [(doc, 1, 1, 1), (40, 2, 2, 0)], 2: [(41, 1, 1, 1)]},
        "arms": {
            "exact": {1: [doc * STRIDE, 40 * STRIDE + 2]},
            "ann": {1: [doc, 40]},
            "bm25": {1: [doc]},
            "contrib": {1: [doc]},
        },
    }


def _check(out, deleted=frozenset()):
    return checks.check_answer(
        out, {1: NEEDLE}, {2: (36, "deleted needle zzzz")}, set(deleted), STRIDE
    )


def test_correct_answer_passes():
    assert _check(_good_answer(), deleted={36}) == []


def test_resurrected_deleted_id_counts_as_failed():
    out = _good_answer()
    out["rrf"][2].append((36, 2, 0, 1))
    tally = checks.Tally()
    assert tally.record(_check(out, deleted={36})) is False
    assert (tally.attempted, tally.failed) == (1, 1)


def test_deleted_chunk_in_exact_arm_counts_as_failed():
    out = _good_answer()
    out["arms"]["exact"][1].append(40 * STRIDE + 3)
    assert any("exact arm" in p for p in _check(out, deleted={40}))


def test_deleted_needle_text_in_context_counts_as_failed():
    out = _good_answer()
    out["context"][2] += "DOCUMENT #2 (from src3):\ndeleted needle zzzz\n"
    assert _check(out)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda o: o["rrf"][1].reverse(),  # needle not first in RRF
        lambda o: o["arms"]["ann"][1].reverse(),  # needle not first in an arm
        lambda o: o["context"].update({1: o["context"][1].replace("DOCUMENT #1", "DOCUMENT #2")}),
        lambda o: o["context"].update({1: o["context"][1].replace("CONTRIBUTION #1", "CONTRIBUTION #3")}),
    ],
)
def test_misranked_needle_counts_as_failed(corrupt):
    out = _good_answer()
    corrupt(out)
    assert _check(out)


def test_table_hash_ignores_row_and_column_order():
    t0 = dt.datetime(2024, 1, 25, 12, 0)
    rows = [(1, "a", 0.5, t0), (2, "b", 1.5, t0)]
    h = checks.table_hash(["id", "s", "x", "ts"], rows)
    swapped = [(r[3], r[2], r[1], r[0]) for r in reversed(rows)]
    assert checks.table_hash(["ts", "x", "s", "id"], swapped) == h


def test_wrong_panel_row_counts_as_failed():
    cols = ["event_type", "n"]
    want = {"a6_session_stats": checks.table_hash(cols, [("click", 3), ("view", 2)])}
    got = {"a6_session_stats": checks.table_hash(cols, [("click", 3), ("view", 1)])}
    tally = checks.Tally()
    tally.record(checks.check_panels(want, want))
    tally.record(checks.check_panels(got, want))
    assert (tally.attempted, tally.failed) == (2, 1)
