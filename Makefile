# Round-close verification: every registry query vs its DuckDB oracle at
# sf0.01 plus the physical-plan red-flag audit, one committed artifact
# (BENCH/VERIFY_$(TAG).md). Non-zero exit if either stage fails.
TAG ?= r05

.PHONY: verify test tier1 smoke bench

verify:
	python scripts/verify_all.py $(TAG)

test:
	python -m pytest tests/ -x -q

# the Tier-1 verify command from ROADMAP.md, verbatim
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the engine's own fresh-store bootstrap vs the reference simulator, at
# local[8] (smoke_e2e) and local[4] with a kill-and-resume (probe_resume);
# the benchmark never runs this bootstrap (StreamingEnqueue seeds its store)
smoke:
	python scripts/smoke_e2e.py
	python scripts/probe_resume.py

bench:
	python bench.py
