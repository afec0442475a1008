# Round-close verification: every registry query vs its DuckDB oracle at
# sf0.01 plus the physical-plan red-flag audit, one committed artifact
# (BENCH/VERIFY_$(TAG).md). Non-zero exit if either stage fails.
TAG ?= r05

.PHONY: verify test tier1 bench

verify:
	python scripts/verify_all.py $(TAG)

test:
	python -m pytest tests/ -x -q

# the Tier-1 verify command from ROADMAP.md, verbatim
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py
