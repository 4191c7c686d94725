.PHONY: dist test bench oracle perfbench-smoke

dist:
	mkdir -p dist && python -c "import shutil; shutil.make_archive('dist/lyra_spark', 'zip', root_dir='.', base_dir='lyra_spark')"

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

perfbench-smoke:
	python3 -m pytest perfbench/tests

oracle:
	python tools/check_oracle.py
