"""Construct-job budget: building a query's plan should run as few Spark
jobs as possible (ROADMAP direction 2, lazy by construction).

Each query is built twice on the sf0.01 tables; the second build's
construct-time job count must stay within the query's budget.  The first
build is not gated: it is the one that runs each file set's schema
inference.  Budgets only go down; raising one needs a CHANGES.md note
saying why.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry  # noqa: E402

BUDGETS = {
    "q01_pricing_summary": 0,
    "q03_top_k": 0,
    "q07_join_anti": 0,
    # the query-set collect in cosine_topk (similarity.py)
    "q43_ann_cosine": 1,
    # the hot-gram probe's first() (_hot_gram_salt, dedup.py): two jobs
    "q93_ngram_dup_coverage": 2,
    # localCheckpoint(eager=False) runs every upstream shuffle stage at
    # construct under AQE: the chained global-ordinal attaches (frame.py)
    # and the sorted with_row_index pin (row_index.py)
    "q107_global_ordinals": 11,
}


@pytest.mark.parametrize("query", sorted(BUDGETS))
def test_second_build_within_construct_job_budget(spark, count_jobs, sf_dir, query):
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    build = entry.queries()[query]
    count_jobs(lambda: build(spark, sf001))
    _, jobs = count_jobs(lambda: build(spark, sf001))
    assert jobs <= BUDGETS[query], (
        f"{query}: {jobs} Spark jobs while building the plan, "
        f"budget {BUDGETS[query]}")
