# Developer entry points.  The build needs nothing beyond baked-in deps;
# these targets wrap the verification surfaces documented in README.md.

COMPOSE := docker compose -f docker/docker-compose.connectors.yml
SF_DIR ?= /root/testdata/sf0.01

.PHONY: test correctness bench perfbench-smoke plan-audit scale-gate connector-it connector-services connector-down

test:
	python -m pytest tests/ -x -q

correctness:
	python tools/check_correctness.py $(SF_DIR)

bench:
	python bench.py

# Every perfbench workload on tiny inputs, untraced and traced: each must
# check clean and print every metric.  Not part of `make test`.
perfbench-smoke:
	python -m pytest perfbench/test_smoke.py -q

plan-audit:
	python tools/plan_audit.py

# Session-end scale regression gate: the uniform 1x -> 10x study over the
# most expensive operator families (wall ratio + spill + shuffle volume).
# Record the JSON row-set in docs/SCALE.md each round; a quadratic shuffle
# or new spill shows up as a diff here, not as archaeology.  The streaming
# analog is tools/stress_streaming_state.py --table (state rows/bytes and
# batch durations at 1x vs 10x event volume).
scale-gate:
	python tools/scale_study.py
	python tools/stress_streaming_state.py --table

# One-command run of the service-gated connector integration tests
# (Kafka, MySQL/JDBC, Redis, Prometheus Pushgateway) against dockerized
# services — the sandbox-honest analog of the reference's testcontainers
# suites.  Requires Docker; each test skips cleanly if its service is
# unreachable.
connector-it: connector-services
	KAFKA_BOOTSTRAP=localhost:9092 \
	REDIS_HOST=localhost:6379 \
	JDBC_URL='jdbc:mysql://localhost:3306/feathub_it?user=feathub&password=feathub' \
	JDBC_DRIVER=com.mysql.cj.jdbc.Driver \
	PROMETHEUS_GATEWAY=localhost:9091 \
	python -m pytest tests/test_connector_integration.py -v; \
	status=$$?; $(COMPOSE) down -v; exit $$status

connector-services:
	$(COMPOSE) up -d --wait

connector-down:
	$(COMPOSE) down -v
