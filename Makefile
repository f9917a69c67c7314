# Reproducibility targets (VERDICT r12 task 8) — one command per round
# artifact, matching the reference's Makefile deliverable shape
# (/root/reference/Makefile:45-54: fmt/lint/test targets driving the same
# checks CI runs). All data is the driver-generated deterministic testdata
# (TESTDATA.md, seed=42); the only nondeterminism in the artifacts is
# wall-clock, which BENCH lines carry calibration probes for.
#
#   make test                 - full pytest suite (the ROADMAP tier-1 command:
#                               same env, same 2670 s timeout)
#   make perfbench            - the repo benchmark (BENCHMARK.json):
#                               python3 perfbench/run.py
#   make perfcheck            - perfbench's own tests (~6 s), among them that
#                               every library name the tracer patches exists
#   make fsqlcheck            - the core fsql tests (read paths, discovery,
#                               readers, fs contract, compaction; ~1.5 min)
#                               with the tier-1 environment
#   make dedupcheck           - the near-duplicate pair tests (MinHash kernel
#                               oracle, the Jaccard/prefix-filter/MinHash
#                               operators against brute force and each other,
#                               their plan shapes; ~2 min) with the tier-1
#                               environment
#   make graphcheck           - the iterative graph operator tests (PageRank,
#                               HITS, k-core, connected components, and that
#                               no graph loop writes a session conf; ~3 min)
#                               with the tier-1 environment
#   make gate                 - strict driver-twin gate -> /tmp/fsql_gate.json
#                               (every catalog entry hash-compared against
#                               its DuckDB oracle at the driver's sf0.01)
#   make bench                - exclusive-host clean bench ->
#                               /tmp/fsql_bench_detail.json (+ stdout JSON line)
#   make verify               - gate + bench
#
# Run gate/bench EXCLUSIVELY (PERF.md host contract): concurrent Spark or
# pytest on the same host pollutes wall-clocks and the calibration probes.

PY ?= python
SF_DIR ?= /root/testdata/sf0.1

.PHONY: test perfbench perfcheck fsqlcheck dedupcheck graphcheck gate bench verify

test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

perfbench:
	python3 perfbench/run.py

perfcheck:
	python3 -m pytest perfbench -q -p no:cacheprovider

FSQL_TESTS = test_path_equivalence.py test_fs_contract.py test_readers_and_write.py \
	test_read_partitioned_table.py test_query_directed_listing.py test_daterange.py \
	test_lex_range_query.py test_driver_prefix_load.py test_hive_walk.py test_listing_loop.py \
	test_footer_schema.py test_glob_names.py test_spark_binding.py test_query_compile_equivalence.py \
	test_scale_plans.py::test_generation_skips_listing_entirely \
	test_scale_plans.py::test_driver_discovery_prunes_listings \
	test_scale_plans.py::test_compaction_reduces_files_preserves_data \
	test_scale_plans.py::test_compaction_sizes_each_partition_value \
	test_scale_plans.py::test_packed_tasks_send_each_slot_to_its_task \
	test_scale_plans.py::test_compaction_flattens_an_unpartitioned_table \
	test_scale_plans.py::test_compaction_with_no_keys_flattens_a_hive_table \
	test_scale_plans.py::test_compaction_on_one_task_plans_a_single_partition \
	test_scale_plans.py::test_compaction_keeps_the_hive_layout_by_default

fsqlcheck:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 $(PY) -m pytest $(addprefix tests/,$(FSQL_TESTS)) -q -p no:cacheprovider

dedupcheck:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 $(PY) -m pytest tests/test_minhash_kernel.py tests/test_operators.py \
		tests/test_property_ops.py tests/test_scale_plans.py \
		-k "minhash or signature or jaccard or prefix_filter" -q -p no:cacheprovider

graphcheck:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 $(PY) -m pytest tests/test_graph.py tests/test_clustering.py \
		tests/test_graph_session_conf.py -q -p no:cacheprovider

gate:
	$(PY) tools/run_gate.py /tmp/fsql_gate.json

bench:
	SPARK_GRAFT_SF_DIR=$(SF_DIR) FSQL_BENCH_DETAIL_PATH=/tmp/fsql_bench_detail.json \
		$(PY) bench.py

verify: gate bench
