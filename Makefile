# Developer entry points (see README.md; driver contract in __spark_entry__.py)

.PHONY: test test-serving test-bench bench bench-small bench-pairs scaling pyfiles smoke digest

test:             ## tier-1 suite, exactly as ROADMAP.md runs it
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider

test-serving:     ## fast loop: rank-identity, warm/cold and reader tests
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	SPARK_LOCAL_DIRS=/tmp/spark-local \
	python -m pytest -q -p no:cacheprovider \
		tests/test_postings_wand.py tests/test_session_sharded.py \
		tests/test_qs_indexed.py tests/test_phrase_fields.py \
		tests/test_fuzzy.py tests/test_append.py tests/test_deletes.py \
		tests/test_plans.py tests/test_index_lifecycle.py

test-bench:       ## the benchmark's own span/event-log parser tests
	python -m pytest perfbench/test_spans.py -q

SF_DIR ?= /root/testdata/sf0.001

digest:           ## per-operator rows/plan identity digest (SF_DIR, default sf0.001)
	@python scripts/suite_digest.py "$(SF_DIR)"

REF ?= HEAD
WORKLOAD ?= adhoc
PAIRS ?= 10

bench-pairs:      ## alternating perfbench pairs: REF vs the working tree
	python3 scripts/bench_pairs.py --ref "$(REF)" --workload "$(WORKLOAD)" --pairs "$(PAIRS)"

bench:            ## headline paths at sf0.1 on local[32] (one JSON line)
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py

bench-small:      ## fast iteration loop at sf0.01
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

scaling:          ## 1 vs 4 executor-JVM fleets -> BENCH/BASELINE.md
	python scripts/scaling_bench.py 1600000 2 1,4

pyfiles:          ## build dist/mario_spark.zip for spark-submit --py-files
	bash scripts/make_pyfiles.sh

smoke:            ## driver-contract smoke: flagship query over sf0.001
	python -c "import sys; sys.path.insert(0, '.'); \
	import __spark_entry__ as e; \
	from mario_spark.session import get_spark; \
	s = get_spark('smoke', master='local[8]', shuffle_partitions=8); \
	df = e.entry(s); print(df.count(), 'rows,', len(e.queries()), 'queries')"

bench-sf1:        ## 10x stretch point (generates .localdata/sf1 on first run)
	python scripts/bench_sf1.py
