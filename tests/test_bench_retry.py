"""bench.py straggler-retry helpers (r11): pure-Python contracts —
the reference loader picks the NEWEST committed isolated artifact and
the contention predicate fires on exactly the two documented triggers."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.path.insert(0, ROOT)
    spec.loader.exec_module(mod)
    return mod


def test_median_and_isolated_reference():
    b = _load_bench()
    assert b._median([3.0, 1.0, 2.0]) == 2.0
    assert b._median([5.0, 1.0]) == 5.0  # upper median on even n
    ref = b._isolated_reference()
    # the repo commits BENCH_ISOLATED_r*.json artifacts — the loader
    # must find the newest round and return numeric values only
    assert ref, "no isolated reference found despite committed artifacts"
    assert all(isinstance(v, (int, float)) for v in ref.values())
    newest = max(
        int(m)
        for f in __import__("glob").glob(
            os.path.join(ROOT, "BENCH_ISOLATED_r*.json")
        )
        for m in [__import__("re").search(r"_r(\d+)", f).group(1)]
        if json.load(open(f)).get("queries")
    )
    expect = json.load(
        open(os.path.join(ROOT, f"BENCH_ISOLATED_r{newest}.json"))
    )["queries"]
    assert ref == {
        k: v for k, v in expect.items() if isinstance(v, (int, float))
    }


def test_contended_predicate_triggers():
    b = _load_bench()
    # one-off straggler: a single run > 3x the query's own median
    assert b._contended([3.0, 3.1, 43.9], None)
    # whole-window inflation vs the isolated twin
    assert b._contended([3.0, 3.1, 3.2], 1.0)
    # quiet runs, close to reference: no retry
    assert not b._contended([3.0, 3.1, 3.2], 2.9)
    # no reference: only the straggler trigger applies
    assert not b._contended([3.0, 3.1, 3.2], None)


def test_contended_window_semantics():
    """ADVICE r11: the decision window is the LATEST runs, so a clean
    fresh-session retry pair clears a flag the original straggler
    raised — the predicate itself must support that call shape."""
    b = _load_bench()
    # the exact false-positive case from the advice: original window
    # carries one 43.9 s straggler...
    assert b._contended([3.0, 3.1, 43.9, 3.0, 3.1, 3.0, 3.1], None)
    # ...but the caller now re-evaluates on the 2-run retry window,
    # where a clean pair is NOT contended
    assert not b._contended([3.0, 3.1], None)
    assert not b._contended([3.0, 3.1], 2.9)
    # a 2-run window with one straggler still trusts the clean min
    # (straggler arm inert on n=2 by design — documented)
    assert not b._contended([3.0, 43.9], 2.9)
    # a wholly inflated retry window keeps the flag via the ref arm
    assert b._contended([6.5, 6.8], 2.9)


def test_compact_line_fits_tail_budget():
    """r11 verdict item 5: the one stdout line must stay inside the
    driver's 2000-char tail capture AND parse as JSON — checked
    against the real committed payload so headline growth that would
    overflow the budget fails here first."""
    b = _load_bench()
    payload = json.load(open(os.path.join(ROOT, "BENCH_LOCAL_r12.json")))
    names = list(payload["queries"])
    line = b.compact_line(payload, names)
    assert len(line) <= 1990
    parsed = json.loads(line)
    assert parsed["n_queries"] == len(names)
    assert len(parsed["queries"]) <= 15
    assert parsed["value"] == payload["value"]
    # a pathologically large query set still yields a parseable line
    big = dict(payload)
    big["queries"] = {f"very_long_query_name_number_{i:04d}": 1.0
                     for i in range(400)}
    line2 = b.compact_line(big, list(big["queries"]))
    assert len(line2) <= 1990
    assert "mins" not in json.loads(line2)
