"""The benchmark's workloads: which registry queries run, and into what sink.

A workload is a list of ``__spark_entry__.queries()`` names and the sink
each result goes to; both read the tables ``datagen`` generates at the
sf0.01 sizes.  The ``why`` lines are copied verbatim into
``BENCHMARK.json``.

The lists are short because one run must fit its set-up (JVM start, Python
workers, and three warm passes costing five to six timed passes) and three
or more timed passes into about a minute.  ``batch`` keeps the queries with the most
eager construct jobs (q107: 12), the salted n-gram exchange (q93) and an
Arrow matmul in Python workers (q43); ``interactive`` keeps one cheap query
per API family.
"""

from __future__ import annotations

from dataclasses import dataclass

NOOP = "noop"        # full materialization through Spark's noop writer
COLLECT = "collect"  # rows moved into the driver with DataFrame.collect()


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sink: str
    queries: tuple[str, ...]


WORKLOADS = {w.name: w for w in (
    Workload(
        name="interactive",
        why=("Small tables, every result collected into the driver as a Polars "
             "user works: per-query fixed costs (plan building, eager jobs, "
             "collect) dominate, not data volume."),
        sink=COLLECT,
        queries=(
            "q01_pricing_summary", "q03_top_k", "q07_join_anti",
            "q12_lag_diff", "q16_str_funcs", "q17_dt_funcs", "q18_list_funcs",
            "q29_value_counts", "q35_entropy_mode", "q62_list_eval",
            "q120_explode_zip",
        ),
    ),
    Workload(
        name="batch",
        why=("Noop-sink pipelines (n-gram dedup, ANN matmul, global ordinals): "
             "eager construct jobs, shuffles and Python workers dominate; the "
             "only workload with Python workers."),
        sink=NOOP,
        queries=(
            "q43_ann_cosine", "q93_ngram_dup_coverage", "q107_global_ordinals",
        ),
    ),
)}
