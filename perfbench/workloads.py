"""The benchmark's workloads: which registered keys each one owns, at
which scale factor they run, and which of them a timed run executes.

Every registered key belongs to exactly one workload (``owner``).  A run
of a workload executes its ``timed`` keys, a fixed subset sized so that a
run with set-up, timed passes and output checks fits the benchmark's time
budget on a 4-core box.  Each subset was picked so that, in a traced pass
over every key its workload owns, its layer shares match the whole
workload's: query-function call per invocation wall, driver gap per wall,
jobs submitted inside the call per job, Python-worker time per executor
time, executor time per wall and, on ``stream``, state-store commit time
per micro-batch time and micro-batch time per call.  ``batch`` keeps the
workload's family mix (one ``tpch_*``, two ``llm_*``/``mm_*`` keys, the
rest from the other operator modules).  ``stream`` leaves out its two
``applyInPandasWithState`` keys, ``stream_stateful`` and
``stream_session_ttl``: they take 6 and 10 s an invocation, so a subset
holding either does not fit two passes into a run.  Its shares match those
of the other 16 keys; the Python-worker layer is measured on ``batch``.
"""

from __future__ import annotations

from dataclasses import dataclass

# Lifecycle keys from sources/python_ds.py; that module's third key,
# source_python_ds, is a batch read and belongs to `batch`.
_PYTHON_STREAM_KEYS = ("source_python_stream", "sink_python_stream")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    timed: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch",
            0.1,
            (
                "events_cep",
                "join_cross",
                "llm_embed_quantize",
                "llm_simhash_dedup",
                "source_jsonl",
                "tpch_q18",
                "udf_pandas",
            ),
        ),
        Workload(
            "stream",
            0.1,
            (
                "sink_console",
                "sink_memory",
                "source_kafka",
                "stream_listener_metrics",
                "stream_rocksdb_state",
            ),
        ),
    )
}


def owner(key: str, module: str) -> str:
    """Workload that owns ``key``, registered by ``module``."""
    if module.endswith(".streaming.runtime") or key in _PYTHON_STREAM_KEYS:
        return "stream"
    return "batch"

