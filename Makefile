# CI targets. The oracle gate runs at TWO scale factors: sf0.01 is the
# driver's correctness gate replica; sf0.1 catches size-dependent
# defects (AQE plan flips, corpus-scaled bucket widths, HLL error
# bounds) that only appear at the larger factor.

.PHONY: test test-sinks profile-stream oracles oracles-sf01 bench scaling all

# The tier-1 run (ROADMAP.md): one Spark executor thread per CPU.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# The CoW/MoR sink and stream tests alone, under the tier-1 environment.
test-sinks:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	python -m pytest tests/test_streaming.py tests/test_mor_sink.py \
	tests/test_table_properties.py tests/test_merge_oracle.py \
	tests/test_fuzzy_gate.py tests/test_sinks_sql.py \
	tests/test_property.py::test_random_feed_matches_oracle -q -p no:cacheprovider

# Seconds per apply_merge phase (`phase_sec`) of a small stream run, under
# the tier-1 environment; STREAM_SINK=cow|mor and STREAM_AUDIT pass through.
profile-stream:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	STREAM_EVENTS=20000 STREAM_BATCHES=2 python bench.py --stream

oracles:
	python tools/check_oracles.py

oracles-sf01:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=16 python tools/check_oracles.py

bench:
	python bench.py

scaling:
	python bench.py --scaling

all: test oracles oracles-sf01
