"""Benchmark of rspl_spark: keyed Mealy machine (stream and batch) and LLM corpus curation."""
