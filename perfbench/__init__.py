"""Seeded end-to-end and per-layer benchmark of the linkage engine; see
perfbench/README.md and BENCHMARK.json."""
