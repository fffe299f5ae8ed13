# Local verification targets.  The driver's own gate runs __spark_entry__
# per-round; these replicate it (and the stricter type-tagged comparison)
# locally so regressions surface before a round ends.

SF ?= /root/testdata/sf0.01

.PHONY: test check-window check-proven check-all check-changed bench rotate-window ship-gate hooks perfbench-smoke

# rewrite the generated graded-window block in registry.py from
# tools/check_changed.py staleness output (never/strong leads,
# dialect-stale re-entry, module-stale drain, proven family reps)
rotate-window:
	python tools/rotate_window.py --write

# round-close gate: window freshness invariants + the pytest guards
# that pin them.  Run (and pass) before the final commit of a round.
ship-gate:
	python tools/rotate_window.py --check
	python -m pytest tests/test_registry_window.py -x -q

# install the pre-commit hook that blocks engine commits on a stale window
hooks:
	sh tools/install_hooks.sh

test:
	python -m pytest tests/ -x -q

# the 50 entries the driver grades this round (registry window)
check-window:
	python tools/check_correctness.py --sf $(SF) $$(python -c "from mcp_trino_spark import registry; print(' '.join(registry._PRIORITY))")

# the driver-certified sets (r02/r03, r04/r05, and r06), pinned as
# regression suites now that window rotations have moved them behind
# the fold
check-proven:
	python tools/check_correctness.py --sf $(SF) $$(python -c "from mcp_trino_spark import registry; print(' '.join(registry._PROVEN_R03 + registry._PROVEN_R45 + registry._PROVEN_R06))")

# entries whose implementing function (or oracle) changed after their
# last green driver row — report, then strict-gate them at sf0.001
# (automates the round-7 hand-diff; see tools/check_changed.py)
check-changed:
	python tools/check_changed.py --gate

# full sweep: every registered entry (oracle + rows-only)
check-all:
	python tools/check_correctness.py --sf $(SF)

bench:
	python bench.py

# the benchmark's self-tests (perfbench/README.md): two sf0.001 runs
# must come back correct, and the run with one perturbed expected
# result must report it ("correct": false)
PERFBENCH_TINY = python3 perfbench/run.py --seed 1 --scale tiny
perfbench_expect = python3 -c 'import json, sys; r = json.loads(sys.stdin.read().splitlines()[-1]); print("correct:", r["correct"], "failed:", r["failed"]); sys.exit(r["correct"] is not $(1))'

perfbench-smoke:
	$(PERFBENCH_TINY) --workload agent_session --seconds 3 --trace 0 | $(call perfbench_expect,True)
	$(PERFBENCH_TINY) --workload pipeline_batch --seconds 1 --trace 1 | $(call perfbench_expect,True)
	$(PERFBENCH_TINY) --workload agent_session --seconds 3 --trace 0 --corrupt-expected | $(call perfbench_expect,False)
