"""lingua_spark benchmark: seeded workloads, metrics and traced runs."""
