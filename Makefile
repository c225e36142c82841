# Common gates. The 50-query driver window is ordered on every call
# from the committed CORRECTNESS_r*.json ledgers (reds first, then
# never-checked, then stalest green); a query whose code changed gets
# an entry in plans/queries.py:_EDITED_IN so only a driver green from
# that round on counts. Nothing is generated, so there is no map to
# regenerate at the start of a round.

.PHONY: fast test test-slow perfbench-test bench ship

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

bench:
	python bench.py

# end-of-round ship gate: driver window green + full suite (default +
# slow = everything) + the benchmark's own checks
ship: fast test test-slow perfbench-test
