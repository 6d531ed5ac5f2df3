# Parity with the reference's Makefile (build/run helpers for the
# batch-bootstrapper container), extended with the repo's test/bench loop.
SF_DIR ?= /root/testdata/sf0.1
IMAGE  ?= tabular-cdc-bootstrapper-spark

.PHONY: test bench verify smoke run image jvm

test:
	python -m pytest tests/ -q

# one JSON line of per-query medians at $(SF_DIR)
bench:
	SPARK_GRAFT_SF_DIR=$(SF_DIR) python bench.py

# fast correctness sweep at the smoke scale factor
smoke:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python bench.py

verify:
	python -m pytest tests/test_oracle_parity.py -q

# the reference's container lifecycle, natively (see README "Running")
run:
	python -m tabular_cdc_bootstrapper_spark

image:
	docker build -t $(IMAGE) .

# rebuild the fork-free local-FS jar session.get_spark puts on the driver
# classpath (the image ships only a JRE, so the jar is committed prebuilt)
JVM_DIR := tabular_cdc_bootstrapper_spark/jvm
HADOOP_API_JAR ?= $(firstword $(wildcard $(shell python -c "import os, pyspark; print(os.path.dirname(pyspark.__file__))")/jars/hadoop-client-api-*.jar))

jvm:
	rm -rf build/jvm && mkdir -p build/jvm
	javac --release 17 -cp $(HADOOP_API_JAR) -d build/jvm $(JVM_DIR)/src/tabularcdc/fs/*.java
	jar --create --date=2000-01-01T00:00:00Z --file $(JVM_DIR)/forkfree-localfs.jar -C build/jvm .
