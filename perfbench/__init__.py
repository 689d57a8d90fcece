"""Repository benchmark: seeded workloads, correctness gates and layer traces."""
