"""What the traced run measures, and what each per-layer metric is for.

`BENCHMARK.json` holds every metric's name and unit (and the end-to-end
bounds); `run.py` reads them from there. This module holds what that file
cannot: the spans the traced run (`--trace 1`) records around the calls
into each engine module, and for every per-layer metric the end-to-end
metric it should move and the workloads it should move on, so a perf
change can show which layer moved and which user-visible number moved
with it. `run.py` refuses to print a result whose metric set differs
from `BENCHMARK.json`, or from `MOVES` in a traced run.
"""

from __future__ import annotations

_ALL = "extract_batch, stream_ingest"
_EXTRACT = ("extract_batch (most; per pass), "
            "stream_ingest (less; per micro-batch)")
# no workload times incremental dedup end to end (see README); its layers
# are measured on the dedup rounds a stream_ingest trace runs
_DEDUP = "stream_ingest traced dedup rounds"
_DEDUP_MOVES = "dedup round time (job.py --dedup-delta)"
_DIAG = "diagnostic, all workloads"

# Spans the traced run records. Each wraps the module attribute the
# engine's own caller looks up, so the span sees exactly the calls the
# production path makes. (module, attribute, span name)
SPANS = (
    ("ocr_toolkit_spark.pipeline", "reconcile_committed", "pipeline.reconcile_committed"),
    ("ocr_toolkit_spark.io", "write_extracted", "io.write_extracted"),
    ("ocr_toolkit_spark.io", "append_lineage", "io.append_lineage"),
    ("ocr_toolkit_spark.io", "snapshot_commit", "io.snapshot_commit"),
    ("ocr_toolkit_spark.io", "read_extracted_changes", "io.read_extracted_changes"),
    ("ocr_toolkit_spark.operators.incremental", "minhash_banded_frame", "dedup.minhash_banded_frame"),
    ("ocr_toolkit_spark.operators.incremental", "read_signature_state", "incremental.read_signature_state"),
    ("ocr_toolkit_spark.operators.incremental", "delta_candidate_pairs", "incremental.delta_candidate_pairs"),
    ("ocr_toolkit_spark.operators.incremental", "jaccard_verify", "dedup.jaccard_verify"),
    ("ocr_toolkit_spark.operators.incremental", "materialize", "skew.materialize"),
    ("ocr_toolkit_spark.operators.dedup", "materialize", "skew.materialize"),
    ("ocr_toolkit_spark.operators.incremental", "append_signatures", "incremental.append_signatures"),
)
# The stream's per-batch parquet write: `stream_extract_committed`'s
# foreachBatch callback calls `DataFrameWriter.parquet` itself, so this is
# the attribute to wrap. Only calls made inside the stream span open a
# span (the dedup layers' own writes stay in their spans' self time).
# (module, attribute, span name, enclosing span)
STREAM_WRITE_SPAN = ("pyspark.sql.readwriter", "DataFrameWriter.parquet",
                     "stream.batch_write", "stream.stream_extract_committed")
# Spans the workloads open around their own calls into the engine's entry
# points (the benchmark is their caller, so there is no attribute to wrap).
ENTRY_SPANS = (
    "pipeline.run_extraction",
    "stream.stream_extract_committed",
    "incremental.dedup_extracted_changes",
)
SPAN_NAMES = tuple(dict.fromkeys(ENTRY_SPANS + tuple(s[2] for s in SPANS)))
DEDUP_SPANS = frozenset((
    "incremental.dedup_extracted_changes", "io.read_extracted_changes",
    "dedup.minhash_banded_frame", "incremental.read_signature_state",
    "incremental.delta_candidate_pairs", "dedup.jaccard_verify",
    "skew.materialize", "incremental.append_signatures",
))

SECTIONS = ("setup_dispatch", "finalize", "html", "sheet", "paged",
            "text_markdown", "bytes_decode")
STREAM_PHASES = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "query_planning": "queryPlanning",
    "latest_offset": "latestOffset",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}

# per-layer metric -> (end-to-end metric it should move, workloads)
MOVES: dict[str, tuple[str, str]] = {
    "session.start_s": ("setup_s", _ALL),
    "session.warmup_s": ("setup_s", _ALL),
    "extract.noop_s": ("docs_per_s", _EXTRACT),
    "extract.scan_noop_s": ("docs_per_s", _EXTRACT),
    **{f"extract.section_ms.{s}": ("docs_per_s", _EXTRACT) for s in SECTIONS},
    "extract.batches": ("docs_per_s", _EXTRACT),
    "io.write_extracted_s": ("docs_per_s", "extract_batch"),
    "io.write_tax_s": ("docs_per_s", "extract_batch"),
    "stream.batch_write_ms.p50": ("batch_p50_ms, docs_per_s", "stream_ingest"),
    "stream.write_tax_ms.p50": ("batch_p50_ms, docs_per_s", "stream_ingest"),
    "io.out_files": ("docs_per_s, out_bytes_per_doc", _ALL),
    "io.out_bytes": ("out_bytes_per_doc", _ALL),
    "io.snapshot_commit_ms": ("batch_p50_ms", "stream_ingest"),
    "io.snapshot_commits": ("batch_p50_ms", "stream_ingest"),
    "io.snapshot_log_entries": ("batch_p50_ms", "stream_ingest"),
    **{f"stream.{p}_ms.p50": ("batch_p50_ms", "stream_ingest")
       for p in STREAM_PHASES},
    "pipeline.run_extraction_s": ("docs_per_s", "extract_batch"),
    "pipeline.reconcile_committed_s": ("docs_per_s", "extract_batch"),
    "io.append_lineage_s": ("docs_per_s", "extract_batch"),
    "pipeline.jobs": ("docs_per_s", "extract_batch"),
    **{name: (_DEDUP_MOVES, _DEDUP) for name in (
        "dedup.minhash_banded_frame_s", "incremental.read_signature_state_s",
        "incremental.delta_candidate_pairs_s", "dedup.jaccard_verify_s",
        "skew.materialize_s", "skew.materialize_calls",
        "incremental.append_signatures_s", "io.read_extracted_changes_s",
        "dedup.candidates", "dedup.verified_pairs", "dedup.verify_yield",
        "dedup.state_touch_ratio", "dedup.jobs")},
    **{f"{s}.{kind}": ("diagnostic for the span's own metrics", _ALL)
       for s in SPAN_NAMES for kind in ("jobs", "tasks")},
    "proc.cpu_s": (_DIAG, _ALL),
    "proc.steal_pct": (_DIAG, _ALL),
    "trace.docs_per_s_traced": ("tracing overhead", _ALL),
    "trace.docs_per_s_untraced": ("tracing overhead", _ALL),
    "trace.overhead_pct": ("tracing overhead", _ALL),
}
