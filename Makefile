# Engine equivalents of the reference's Makefile targets
# (reference: make data / make agent / make eval stages).

.PHONY: test parity parity-sf001 rag bench smoke regen-goldens scaleprobe digests

# Spark sized to this machine's cores (session.get_spark otherwise
# defaults to local[32]) and shuffle spill kept off the repo.
SPARK_ENV = export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local;

test:              # the tier-1 suite, as ROADMAP.md states it
	$(SPARK_ENV) timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

parity:            # driver-scale oracle parity (the correctness gate)
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

parity-sf001:
	python -m pytest tests/test_oracle_parity.py -q

rag:               # the RAG serving-path tests (zip ingest, fit, search, add, RagIndex, BM25, empty and k edges)
	$(SPARK_ENV) python -m pytest tests/test_ingest.py tests/test_tfidf.py tests/test_tfidf_unicode.py tests/test_bm25.py tests/test_api.py tests/test_edge_cases.py -q -p no:cacheprovider

bench:             # one JSON line at sf0.1 (the driver records this)
	python bench.py

smoke:             # the driver's entry() smoke
	python -c "from pyspark.sql import SparkSession; import __spark_entry__ as e; \
s = SparkSession.builder.master('local[8]').getOrCreate(); \
print(e.entry(s).collect())"

scaleprobe:        # repeatable 100x gate: regen .scale/sf10 if absent, run the
	python scripts/scale_probe.py   # probe families, fail on wall-ratio regression

digests:           # regen the staleness manifest AFTER bumping LAST_CHANGED
	python scripts/update_source_digests.py

regen-goldens:     # deterministic fixtures (commit alongside semantic changes)
	python tests/fixtures/generate_fixtures.py
	python tests/fixtures/mediagen.py
