"""Which public functions of which engine layer the traced run wraps."""

from __future__ import annotations

import os
import sys

from spans import Tracer, loaded_modules


def _cells(out, args, kwargs):
    return {"hit": out is not None, "rows": 0 if out is None else len(out)}


def _sheet_rows(out, args, kwargs):
    return {"rows": len(out)}


def _written(out, args, kwargs):
    path = args[1] if len(args) > 1 else kwargs["path"]
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith(".") and not n.startswith("_"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return {"files": files, "bytes": size}


def instrument(tracer: Tracer) -> None:
    import __spark_entry__
    from cancer_survival_etl_spark.llm import curation, dedup, similarity, textstats
    from cancer_survival_etl_spark.operators import driverfit, stats, survival, windows
    import cancer_survival_etl_spark.plans  # noqa: F401  (loads the modules below)
    from cancer_survival_etl_spark.sources import catalog, excel, sinks, xlsx

    # the plans package re-exports the functions under the module names
    process_index = sys.modules["cancer_survival_etl_spark.plans.process_index"]
    process_adult4 = sys.modules["cancer_survival_etl_spark.plans.process_adult4"]
    targets = {
        "driverfit": [(driverfit, ["collect_cells"], _cells)],
        "windows": [(windows, ["global_prefix_sum", "grouped_prefix_sum"], None)],
        "survival": [(survival, None, None)],
        "stats": [(stats, None, None)],
        "catalog": [(catalog, ["load_table"], None)],
        "excel": [(excel, ["excel_sheet_to_df"], None)],
        "xlsx": [(xlsx, ["read_xlsx_sheet"], _sheet_rows)],
        "plans": [(process_index, ["process_index"], None),
                  (process_adult4, ["process_adult4"], None)],
        "sinks": [(sinks, ["overwrite_table"], _written)],
        "llm.dedup": [(dedup, None, None)],
        "llm.similarity": [(similarity, None, None)],
        "llm.curation": [(curation, None, None)],
        "llm.textstats": [(textstats, None, None)],
    }
    binders = loaded_modules("cancer_survival_etl_spark") + [__spark_entry__]
    tracer.instrument(targets, binders)
