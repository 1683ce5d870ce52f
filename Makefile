.PHONY: test verify-local bench prices

test:
	python -m pytest tests/ -x -q

# Full-registry DuckDB oracle sweep at one SF (pass SF_DIR/OUT to override).
SF_DIR ?= /root/testdata/sf0.01
OUT ?= VERIFY_LOCAL_local.json
verify-local:
	python tools/verify_local.py --sf-dir $(SF_DIR) --out $(OUT)

bench:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py

prices:
	python tools/price_all.py
