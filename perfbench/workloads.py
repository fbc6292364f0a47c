"""Workload definitions: a fixed, ordered list of operations each.

A name that is a registry query (``__spark_entry__.queries()``) is one
operation: build the query, then run it with the noop sink. ``publish``
and ``views`` are the ETL operations: one ``pipeline.run_pipeline`` pass
over the seeded workbooks into the benchmark's warehouse, and one read
of the twelve reporting views over the published tables.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # build-bound: eager fit/collect jobs inside the query functions
    # (operators.survival, operators.driverfit, operators.windows prefix
    # sums, operators.stats GLMs)
    "survival": [
        "survival_km",
        "survival_cox",
        "survival_logrank",
        "rates_age_standardized",
        "survival_ipw_km",
    ],
    # run-bound: star-schema SQL operators, the ETL publish + view read,
    # and LLM corpus operators; driverfit is not entered
    "reporting": [
        "pricing_summary",
        "publish",
        "views",
        "text_quality",
        "dedup_exact",
        "text_chunk",
        "ann_brute_force",
    ],
}

# Tables each workload reads (the warm-up scan reads region).
TABLES = {
    "survival": ["region", "events", "documents", "orders"],
    "reporting": ["region", "lineitem", "documents", "embeddings"],
}

ETL_OPS = {"publish", "views"}
