# Build/test/bench targets for the PySpark KG-construction engine.

PY ?= python
DIST = dist/ehr_relation_extraction_spark.zip

.PHONY: test bench perfbench scaling matrix curation-bench package submit-smoke curate-smoke train-cascade-smoke store-smoke store-smoke-manifest clean

test:
	$(PY) -m pytest tests/ -x -q

bench:
	$(PY) bench.py

scaling:
	$(PY) bench.py --scaling

# End-to-end metrics of the staged-job benchmark (perfbench/README.md)
# on both declared workloads at one fixed seed, about 2 min on 4 CPUs.
# Run it on two checkouts on the same box to compare before and after.
perfbench:
	@mkdir -p .perfbench
	@for w in crawl_bulk crawl_resume; do \
	  $(PY) perfbench/run.py --workload $$w --seed 1 --seconds 18 --trace 0 \
	    > .perfbench/$$w.out; rc=$$?; \
	  grep " = " .perfbench/$$w.out; [ $$rc -eq 0 ] || exit $$rc; \
	done

# Full-registry oracle sweep -> committed per-round artifact
# (SWEEP_r06.json): per-key pass/fail + wall time at sf0.01.
sweep:
	$(PY) scripts/verify_sweep.py /root/testdata/sf0.01 "local[8]" \
	  --json SWEEP_r06.json

matrix:
	$(PY) bench.py --matrix

curation-bench:
	$(PY) bench.py --curation

package:
	mkdir -p dist
	rm -f $(DIST)
	cd . && zip -qr $(DIST) ehr_relation_extraction_spark -x '*__pycache__*'

# end-to-end spark-submit smoke: package the library, ship it with
# --py-files, run the checkpointed pipeline on the sf0.001 corpus
submit-smoke: package
	rm -rf /tmp/kg_submit_smoke
	spark-submit --master 'local[8]' \
	  --conf spark.ui.enabled=false \
	  --py-files $(DIST) \
	  scripts/submit_pipeline.py \
	  --from-documents /root/testdata/sf0.001 \
	  --out /tmp/kg_submit_smoke --run-id smoke

clean:
	rm -rf dist

curate-smoke:
	rm -rf /tmp/curate_smoke
	python scripts/curate_corpus.py \
	  --documents /root/testdata/sf0.001/documents.parquet \
	  --out /tmp/curate_smoke --seq-len 256 --epochs 10

store-smoke:
	rm -rf /tmp/kg_store_smoke
	python scripts/maintain_store.py \
	  --from-documents /root/testdata/sf0.001 \
	  --store /tmp/kg_store_smoke --n-buckets 4 --demo-deltas

train-cascade-smoke:
	rm -rf /tmp/cascade_smoke
	python scripts/train_cascade.py \
	  --documents /root/testdata/sf0.001 --out /tmp/cascade_smoke

store-smoke-manifest:
	rm -rf /tmp/kg_store_smoke_manifest
	python scripts/maintain_store.py \
	  --from-documents /root/testdata/sf0.001 \
	  --store /tmp/kg_store_smoke_manifest --n-buckets 4 \
	  --demo-deltas --manifest
