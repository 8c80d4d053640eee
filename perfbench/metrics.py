"""Every metric the benchmark reports, with its unit, its better direction
and, for per-layer metrics, the end-to-end metric and workload it should
move. ``BENCHMARK.json`` lists the same names (``test_perfbench`` checks).

End-to-end metrics are measured with tracing off and mean the same thing on
every workload, each reading it in its own unit of work:

* ``work_per_s`` - DocumentStore calls/s (dms_mixed; one client, so the
  calls over the time they take, each kind of call counted at its median
  latency, inline compactions included), corpus documents/s through the
  whole pipeline (llm_pipeline; each step at its fastest of the timed
  passes). Each call's time leaves out the share the hypervisor stole
  from the machine's CPUs while it ran (``stats.unstolen``);
* ``setup_s`` - session start, fixture build and warm-up.

The report line printed before the result adds the workload-specific
figures: ``call_p50_ms`` (median latency of one timed call), the read,
write and search medians and tails of dms_mixed, the ingest and search
rates of llm_pipeline, the Spark JVM's peak RSS and the failed-op share.
Those medians and tails of short calls move with the load on the host by
more than the largest bound allowed, so they carry none.
"""

from __future__ import annotations

from workloads import DMS_OPS, LLM_QUERIES
from tracing import LAYERS

E2E = {
    "setup_s": ("s", "lower"),
    "work_per_s": ("1/s", "higher"),
}

_DMS = "dms_mixed"
_LLM = "llm_pipeline"


def _layer_metrics() -> dict[str, tuple[str, str, str]]:
    """name -> (unit, better, what it should move)."""
    out = {"session.get_spark_s": ("s", "lower", "setup_s on every workload")}
    moves = {
        "download": f"work_per_s, dms_read_* on {_DMS}",
        "get_file_meta_data": f"work_per_s, dms_read_* on {_DMS}",
        "get_file_version": f"work_per_s, dms_read_* on {_DMS}",
        "upload": f"work_per_s, dms_write_* on {_DMS}",
        "delete": f"work_per_s, dms_write_* on {_DMS}",
        "search": f"work_per_s, dms_search_p50_ms on {_DMS}",
        "compact": f"work_per_s, dms_write_tail_ms on {_DMS}",
    }
    for op in DMS_OPS:
        what = moves[op] + f"; no change on {_LLM}"
        out[f"dms.store.{op}.p50_ms"] = ("ms", "lower", what)
        out[f"dms.store.{op}.spark_jobs"] = ("count", "lower", what)
        out[f"dms.store.{op}.tasks"] = ("count", "lower", what)
    for name in ("data_files", "tombstone_rows", "generations"):
        out[f"dms.store.{name}"] = ("count", "lower", f"dms_read_tail_ms on {_DMS}")
    out["dms.store.write_amp"] = ("ratio", "lower", f"dms_write_* on {_DMS}")
    out["dms.store.space_amp"] = ("ratio", "lower", f"dms_read_* on {_DMS}")
    out["dms.store.bulk_ingest_s"] = ("s", "lower", f"ingest_docs_per_s on {_LLM}")
    out["dms.extract.extract_metadata.p50_us"] = (
        "us",
        "lower",
        f"ingest_docs_per_s on {_LLM}; a small share of dms_write_p50_ms",
    )
    idx = f"index_search_per_s, pipeline_docs_per_s on {_LLM}; not dms_search_p50_ms"
    out["search.index.build_inverted_index_s"] = ("s", "lower", idx)
    out["search.index.postings_rows"] = ("count", "lower", idx)
    out["search.index.tfidf_search.p50_ms"] = ("ms", "lower", idx)
    what = f"work_per_s (pipeline_docs_per_s) on {_LLM}"
    for q in LLM_QUERIES:
        out[f"queries.{q}.p50_s"] = ("s", "lower", what)
        out[f"queries.{q}.input_bytes"] = ("B", "lower", what)
        out[f"queries.{q}.shuffle_write_bytes"] = ("B", "lower", what)
        out[f"queries.{q}.tasks"] = ("count", "lower", what)
        out[f"queries.{q}.executor_run_s"] = ("s", "lower", what)
    for layer in LAYERS:
        out[f"{layer}.self_s"] = ("s", "lower", "the workloads that enter the layer")
    out["trace.overhead_share"] = (
        "ratio",
        "lower",
        "share of a traced run spent tracing: span bookkeeping, layout samples, job-metric readback",
    )
    return out


LAYER = _layer_metrics()
