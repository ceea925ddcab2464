# Developer/CI entry points — the repo analogue of the reference's
# `makefile` targets (check-quality / unit-test / run-ingest /
# run-generate, reference makefile:1-60) and its CI steps
# (.github/workflows/go.yml: lint → build → test). No build step here
# (pure Python); "build" is a compile-all syntax gate.

SHELL := /bin/bash
SF_DIR ?= /root/testdata/sf0.01
PY ?= python

.PHONY: all build test test-ci check-quality audit oracle oracle-window bench \
        profile-lake run-ingest run-generate clean help

all: check-quality test ## quality gates + full test suite

build: ## syntax gate: byte-compile the whole package
	$(PY) -m compileall -q babylon_data_loader_spark __spark_entry__.py bench.py scripts

test: ## full pytest suite
	$(PY) -m pytest tests/ -x -q

test-ci: build test audit ## what CI runs: compile, tests, plan audit

check-quality: audit ## scale anti-pattern gates over every query plan

audit: ## explain all registered queries; fail on scale anti-patterns
	$(PY) scripts/audit_plans.py $(SF_DIR)

oracle: ## Spark vs DuckDB exact-match over the whole registry
	# certification runs keep their FULL log: a truncated log once
	# lost the name of a one-off failure (r11). pipefail keeps the
	# sweep's exit code through the tee.
	set -o pipefail; \
	$(PY) scripts/check_oracle.py $(SF_DIR) 2>&1 | tee oracle_sweep.log

oracle-window: ## exact-match sweep of the 50-slot driver window only
	$(PY) -c "import sys; sys.path.insert(0,'.'); \
	import babylon_data_loader_spark.queries as Q; Q.load_all(); \
	print('\n'.join(Q.PRIORITY[:50]))" > .window50.txt
	@test "$$(wc -l < .window50.txt)" = "50" || { \
	  echo 'oracle-window: PRIORITY[:50] did not yield 50 names' >&2; \
	  rm -f .window50.txt; exit 1; }
	# --exact: the sweep runs PRIORITY[:50] verbatim — substring
	# pulls once swept 60 lanes for a 50-slot window (r13 ask #7)
	set -o pipefail; \
	$(PY) scripts/check_oracle.py --exact $(SF_DIR) \
	  $$(tr '\n' ' ' < .window50.txt) 2>&1 | tee oracle_window.log
	rm -f .window50.txt

bench: ## headline benchmark (one JSON line on stdout)
	$(PY) bench.py

profile-lake: ## point-lookup cost at 1/10/40/100 single-row appends
	$(PY) scripts/profile_lake_reads.py

run-ingest: ## run the ingest pipeline against $$UNPROCESSED_DIR etc.
	$(PY) -m babylon_data_loader_spark ingest

run-generate: ## generate synthetic transaction CSVs
	$(PY) -m babylon_data_loader_spark generate-synthetic-data

clean: ## remove caches and scratch dirs
	find . -name __pycache__ -type d -prune -exec rm -rf {} + ; \
	rm -rf .pytest_cache spark-warehouse/_bench_* spark-warehouse/lsh_staging_*

help: ## list targets
	@grep -E '^[a-zA-Z_-]+:.*?## ' $(MAKEFILE_LIST) | \
	  awk 'BEGIN{FS=":.*?## "} {printf "  %-14s %s\n", $$1, $$2}'
