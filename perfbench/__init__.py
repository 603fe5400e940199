"""kgx benchmark: see perfbench/README.md."""
