# One-command verification entry points (r7 verdict item 8).
# Each target exits non-zero on the first failing gate.

PY ?= python

.PHONY: verify verify-fast bench test audit gate

# Full pre-round pipeline: DuckDB oracle gate at sf0.01, physical-plan
# posture audit, bare-session (driver-env parity) gate, pytest, bench.
verify:
	$(PY) tools/run_all.py

# Quick iteration loop: plan audit + pytest -x (pytest runs the sf0.001
# oracle gate as tests/test_oracles.py).
verify-fast:
	$(PY) tools/run_all.py --fast

# Individual gates.
gate:
	$(PY) tools/check_correctness.py /root/testdata/sf0.01

audit:
	$(PY) tools/audit_plans.py

test:
	$(PY) -m pytest tests/ -q

bench:
	$(PY) bench.py
