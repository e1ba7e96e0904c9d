# fuzzycat_spark build / test / bench targets

.PHONY: test oracle bench scaling dist submit-local clean

# the tier-1 command of ROADMAP.md
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the Spark-vs-DuckDB cases alone, in the tier-1 environment
oracle:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	python -m pytest tests/test_oracles.py tests/test_corpus_oracles.py -q -p no:cacheprovider

# one seeded run of each benchmark workload (BENCHMARK.json)
SEED ?= 1
bench:
	python3 perfbench/run.py --workload web_crawl --seed $(SEED) --seconds 5
	python3 perfbench/run.py --workload stream_ingest --seed $(SEED) --seconds 5

scaling:
	python tools/bench_scaling.py

dist:
	mkdir -p dist
	cd . && python -c "import shutil; shutil.make_archive('dist/fuzzycat_spark', 'zip', '.', 'fuzzycat_spark')"

# run the spark-submit job locally end-to-end against a synthetic corpus
submit-local: dist
	python -c "\
import sys; sys.path.insert(0, '.'); \
from fuzzycat_spark import get_spark; \
from fuzzycat_spark.sources import synth_pages; \
s = get_spark(cores=8); s.sparkContext.setLogLevel('ERROR'); \
synth_pages(s, 200, 100).write.mode('overwrite').parquet('/tmp/submit_demo_pages')"
	spark-submit --master 'local[8]' --driver-memory 8g \
	  --py-files dist/fuzzycat_spark.zip jobs/dedup_job.py \
	  --input /tmp/submit_demo_pages --output /tmp/submit_demo_out \
	  --checkpoint /tmp/submit_demo_ckpt

clean:
	rm -rf dist /tmp/submit_demo_* .pytest_cache
