# Packaging + deployment targets (north rule: spark-submit --py-files)

PKG = bloomfilter_multithread_spark
DIST = dist/$(PKG).zip

.PHONY: dist submit-demo submit-demo-cluster probe-demo test bench perfbench clean

dist:
	mkdir -p dist
	rm -f $(DIST)
	zip -qr $(DIST) $(PKG) -x '*__pycache__*'

# end-to-end spark-submit evidence on local[*]; on a real cluster add
# --master yarn/k8s + executor confs — the job is unchanged
submit-demo: dist
	spark-submit --master 'local[8]' \
	  --conf spark.sql.shuffle.partitions=8 \
	  --py-files $(DIST) scripts/submit_build.py \
	  --input synth:20000 \
	  --bloom-key text --capacity 200000 --blocked --route \
	  --state /tmp/sketch_state_demo

# the reference's QUERY phase as its own application: a second
# spark-submit job that shares only the persisted state dir with the
# build (run after submit-demo). The probe input deliberately overlaps
# the build corpus (same seed, 25k vs 20k convs): the first 20k convs
# must all hit (zero FN), the tail hits only at the FPR.
probe-demo: dist
	spark-submit --master 'local[8]' \
	  --conf spark.sql.shuffle.partitions=8 \
	  --py-files $(DIST) scripts/submit_probe.py \
	  --state /tmp/sketch_state_demo \
	  --input synth:25000 --sketch bloom_key --key text

# REAL multi-executor evidence: local-cluster[2,2,2048] launches two
# separate executor JVMs (own block managers, real serialization +
# broadcast + shuffle across process boundaries). Unlike local[*], the
# executors' Python workers can only import the package through the
# --py-files zip — this target is the strongest in-sandbox proof of the
# north rule's deployment path. Same job, same state layout.
submit-demo-cluster: dist
	spark-submit --master 'local-cluster[2,2,2048]' \
	  --conf spark.executor.memory=1g \
	  --conf spark.sql.shuffle.partitions=8 \
	  --py-files $(DIST) scripts/submit_build.py \
	  --input synth:20000 \
	  --bloom-key text --capacity 200000 --blocked --route \
	  --state /tmp/sketch_state_demo_cluster

test:
	python -m pytest tests/ -q

bench:
	python bench.py

# sketch-engine benchmark (BENCHMARK.json): both workloads at one seed,
# first the end-to-end metrics (--trace 0), then the per-layer ones
# (--trace 1, spans in .perfbench_trace/). Override with SEED=n BENCH_SECONDS=s.
SEED ?= 1
BENCH_SECONDS ?= 12
perfbench:
	for w in build_mixed probe_dedup; do \
	  for t in 0 1; do \
	    python3 perfbench/run.py --workload $$w --seed $(SEED) \
	      --seconds $(BENCH_SECONDS) --trace $$t || exit 1; \
	  done; \
	done

clean:
	rm -rf dist
