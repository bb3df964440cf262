"""Layered benchmark for uniparser_spark (see perfbench/README.md)."""
