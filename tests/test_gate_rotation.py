"""tools/gate_rotation.py on temporary CORRECTNESS_r*.json files: each
query's latest green round, oldest-gate-first ordering, and the audit
that refuses a front window holding a newer query while an overdue one
waits outside. No Spark."""

import json

from tools.gate_rotation import audit, latest_green, oldest_first


def _write(tmp_path, rnd, rows):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
        json.dumps({q: {"hash_match": ok} for q, ok in rows.items()})
    )


def test_latest_green_round_per_query(tmp_path):
    _write(tmp_path, 1, {"a": True, "b": True, "c": False})
    _write(tmp_path, 2, {"b": True})
    _write(tmp_path, 3, {"a": False, "c": True})
    (tmp_path / "CORRECTNESS_notes.json").write_text("{}")
    last, latest = latest_green(tmp_path)
    # a red row does not move a query's latest green round
    assert last == {"a": 1, "b": 2, "c": 3}
    assert latest == 3


def test_emit_order_is_never_gated_then_oldest(tmp_path):
    _write(tmp_path, 1, {"old1": True, "old2": True})
    _write(tmp_path, 2, {"mid": True})
    _write(tmp_path, 4, {"new": True})
    last, _ = latest_green(tmp_path)
    order = ["new", "old2", "never", "mid", "old1"]
    assert oldest_first(order, last) == ["never", "old2", "old1", "mid", "new"]


def test_audit_flags_overdue_query_behind_newer_one(tmp_path):
    _write(tmp_path, 1, {"r1": True})
    _write(tmp_path, 2, {"r2": True})
    _write(tmp_path, 3, {"r3": True})
    last, latest = latest_green(tmp_path)
    nxt = latest + 1  # round 4: r1 is 3 rounds old, r2 is 2
    # r1 is overdue and waits outside a window holding the newer r3
    assert audit(["r3", "r2", "r1"], last, nxt, window=2) == (["r1"], ["r3", "r2"])
    # the oldest-first order puts it in front; r3 outside is not overdue
    assert audit(oldest_first(["r3", "r2", "r1"], last), last, nxt, window=2) == ([], [])
    # a never-gated query is overdue too
    overdue, newer = audit(["r1", "new"], last, nxt, window=1)
    assert overdue == ["new"] and newer == ["r1"]


def test_audit_allows_overdue_queue_behind_equally_old_window(tmp_path):
    _write(tmp_path, 1, {"a": True, "b": True, "c": True})
    _write(tmp_path, 4, {"d": True})
    last, latest = latest_green(tmp_path)
    # more overdue queries than window slots: the rest wait a round
    overdue, newer = audit(["a", "b", "c", "d"], last, latest + 1, window=2)
    assert overdue == ["c"] and newer == []
