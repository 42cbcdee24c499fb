# Round artifacts — run before handing a round to the judge.
#
#   make verify ROUND=5   → ORACLE_FULL_r5.txt: every queries() entry
#                           vs its DuckDB oracle at sf0.01, per-query
#                           PASS/FAIL + timing (the full-registry run
#                           the judge previously had to re-execute)
#   make bench            → BENCH_FULL.json + the one-line contract
#   make test             → the Tier-1 pytest command (ROADMAP.md), verbatim
#   make perftest         → the layered benchmark's own tests (perfbench/)

ROUND ?= 5
SF_DIR ?= /root/testdata/sf0.01

.PHONY: verify bench test perftest

verify:
	python tools/verify_oracle.py $(SF_DIR) 2>&1 | tee ORACLE_FULL_r$(ROUND).txt

bench:
	python bench.py

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

perftest:
	python3 -m pytest perfbench/tests -q
