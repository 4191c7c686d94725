.PHONY: dist test bench oracle

dist:
	mkdir -p dist && python -c "import shutil; shutil.make_archive('dist/lyra_spark', 'zip', root_dir='.', base_dir='lyra_spark')"

test:
	python -m pytest tests/ -x -q

bench:
	python bench.py

oracle:
	python tools/check_oracle.py
