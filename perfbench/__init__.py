"""bm25s_spark benchmark: seeded transcript workloads driven through the
public API, with an independent answer oracle and per-layer tracing."""
