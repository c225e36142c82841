# Round-opening ritual + common gates. The rotation map MUST be
# regenerated as the first action of every round, or the driver's
# 50-slot window re-checks last round's greens instead of the stalest
# cohort (tests/test_driver_rotation.py guards this by failing).
#
# `make bench` and `make ship` refuse to run while the committed map is
# stale (VERDICT r8 #8): the guard is a pre-bench GATE, not only a
# pytest. The external driver calls `python bench.py` directly and is
# unaffected — it may legitimately run after dropping a new
# CORRECTNESS file that the map can't have ingested yet.

.PHONY: rotate guard fast test test-slow perfbench-test bench ship

rotate:
	python scripts/rebuild_driver_priority.py
	python -m pytest tests/test_driver_rotation.py -q

# fail fast if driver_rounds.py is stale w.r.t. CORRECTNESS_r*.json
guard:
	python -m pytest tests/test_driver_rotation.py -q

# the 50 queries the external driver will hard-check this round (~70 s)
fast:
	python -m pytest tests/test_oracle_parity.py -m fast -q

# default run = the driver-budget suite (pyproject addopts excludes the
# `slow` long-horizon fuzz/soak/equivalence files; VERDICT r13 #1)
test:
	python -m pytest tests/ -q

# the excluded long-horizon suites — still a ship gate, just not paid
# inside the external driver's wall-clock budget
test-slow:
	python -m pytest tests/ -q -m slow

# the benchmark's own trace and generator checks (perfbench/tests is
# outside the default testpaths, so `make test` never collects it)
perfbench-test:
	python3 -m pytest perfbench/tests -q

bench: guard
	python bench.py

# end-of-round ship gate: map fresh + driver window green + full suite
# (default + slow = everything)
ship: guard fast test test-slow
