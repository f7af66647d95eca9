.PHONY: test bench zip verify

# the tier-1 test command
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# one perfbench run per workload (perfbench/README.md)
SEED ?= 1
bench:
	for w in kg_build kg_delta nt_convert; do \
	  python3 perfbench/run.py --workload $$w --seed $(SEED) --seconds 12 --trace 0 || exit 1; \
	done

zip:
	rm -f kgpipe.zip && zip -qr kgpipe.zip kgpipe -x '*__pycache__*'

# end-to-end smoke: the driver contract + CLI surfaces
verify:
	python -c "import __spark_entry__ as e; from kgpipe.session import get_spark; s=get_spark(master='local[4]'); df=e.entry(s); print(df.count(), 'rows'); s.stop()"
	python -m kgpipe.cli dump-rules | head -3
