"""Benchmark of the extraction engine; see BENCHMARK.md."""
