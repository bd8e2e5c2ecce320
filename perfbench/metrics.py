"""Metric catalogue: names, units, direction, and what each layer metric moves.

``END_TO_END`` is what an untraced run prints, ``PER_LAYER`` what a traced
run prints; both lists must equal the ones in ``BENCHMARK.json`` (the tests
check this).  ``moves`` records, before any optimization is measured, which
end-to-end metric a change to that layer should move and on which workload;
"no change" is the prediction for the workload that bypasses the layer.
"""

from __future__ import annotations

# name, unit, better, bound (share of the parent's median).  On a shared
# 4-vCPU VM, CPU steal swings between 0 and 20% from minute to minute and a
# whole run speeds up or slows down with it: all of a run's queries move
# together.  In a quiet phase the quartile spread of ten runs on the timings
# was 0.07-0.13 on batch and 0.13-0.19 on interactive, so every bound is the
# largest the benchmark format allows.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
    ("query_p90_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
)

_SETUP = "setup_s on every workload"
_API = "pass_s and query_p50_s on interactive and batch"
_CATALYST = "query_p50_s on interactive; exchanges move pass_s on batch"
_EXEC = "pass_s on batch"
_PYWORKER = "pass_s on batch; no change on interactive"
_DELIVER = "query_p50_s on interactive; no change on batch"

# name, unit, better, moves
PER_LAYER = (
    ("session.start_s", "s", "lower", _SETUP),
    ("session.warm_s", "s", "lower", _SETUP),
    ("api.construct_s", "s", "lower", _API),
    ("api.py4j_calls", "count", "lower", _API),
    ("api.construct_jobs", "count", "lower", _API),
    ("catalyst.analysis_ms", "ms", "lower", _CATALYST),
    ("catalyst.optimization_ms", "ms", "lower", _CATALYST),
    ("catalyst.planning_ms", "ms", "lower", _CATALYST),
    ("catalyst.exchanges", "count", "lower", _CATALYST),
    ("catalyst.python_nodes", "count", "lower", _CATALYST),
    ("exec.jobs", "count", "lower", _EXEC),
    ("exec.stages", "count", "lower", _EXEC),
    ("exec.tasks", "count", "lower", _EXEC),
    ("exec.task_s", "s", "lower", _EXEC),
    ("exec.cpu_s", "s", "lower", _EXEC),
    ("exec.gc_s", "s", "lower", _EXEC),
    ("exec.input_bytes", "bytes", "lower", _EXEC),
    ("exec.shuffle_read_bytes", "bytes", "lower", _EXEC),
    ("exec.shuffle_write_bytes", "bytes", "lower", _EXEC),
    ("exec.spill_bytes", "bytes", "lower", _EXEC),
    ("pyworker.run_s", "s", "lower", _PYWORKER),
    ("pyworker.start_s", "s", "lower", _PYWORKER),
    ("pyworker.init_s", "s", "lower", _PYWORKER),
    ("pyworker.bytes_sent", "bytes", "lower", _PYWORKER),
    ("pyworker.bytes_returned", "bytes", "lower", _PYWORKER),
    ("deliver.s", "s", "lower", _DELIVER),
    ("deliver.rows", "count", "lower", _DELIVER),
    # self time: a span's duration minus the time its child spans cover
    ("self.api_s", "s", "lower", _API),
    ("self.catalyst_s", "s", "lower", _CATALYST),
    ("self.exec_s", "s", "lower", _EXEC),
    ("self.deliver_s", "s", "lower", _DELIVER),
    ("self.query_s", "s", "lower", "nothing: the benchmark's own bookkeeping per query"),
    ("trace.pass_s", "s", "lower", "nothing: a traced pass, for the overhead below"),
    ("trace.overhead", "ratio", "lower", "nothing: traced pass_s over untraced pass_s"),
)

# Per query, api.py4j_calls, api.construct_jobs, exec.jobs, exec.stages,
# exec.tasks and catalyst.exchanges repeat exactly across traced runs of one
# tree, on one seed and across seeds; the times and byte counts do not.
