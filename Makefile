# Round lifecycle targets.
#
# round-start MUST be the first command of every round: the driver lands
# CORRECTNESS_r{N}.json AFTER the round-{N} snapshot is taken, so the README
# evidence ledger is stale by exactly one artifact at every round boundary.
# Regenerating it here keeps tests/test_evidence_ledger.py green from turn 0.

.PHONY: round-start round-close test verify-local bench prices

round-start:
	python tools/evidence_ledger.py
	python -m pytest tests/test_evidence_ledger.py tests/test_registry_parity.py -q

# Judge-methodology sample (round-11 verdict task #4): a FRESH bare-session
# process runs a seeded draw over the families the driver never samples.
# Pass ROUND=N; the seed is the round number so coverage walks, not resamples.
ROUND ?= 0
verify-sample:
	python tools/verify_sample.py --families sql,stream,sim,graph,join,window \
		--n 25 --seed $(ROUND) --out VERIFY_SAMPLE_r$(ROUND).json
	python tools/evidence_ledger.py

# round-close MUST run AFTER every artifact rename (no *_wip.json left):
# the round-11 red came from regenerating the ledger while a _wip name was
# still on disk.  The ledger generator now skips _wip names entirely, and
# this recipe refuses to close a round while any remain.
round-close:
	@stale=$$(ls *_wip.json 2>/dev/null); if [ -n "$$stale" ]; then \
		echo "round-close: in-flight artifacts remain: $$stale — rename them first"; exit 1; fi
	python tools/evidence_ledger.py
	python -m pytest tests/test_evidence_ledger.py -q

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
