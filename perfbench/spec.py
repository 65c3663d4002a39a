"""What the benchmark measures: workloads, end-to-end and per-layer
metrics. ``BENCHMARK.json`` at the repository root is generated from this
module (``python3 perfbench/run.py --write-manifest``) and a test keeps the
two equal."""

from __future__ import annotations

import json

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 5

WORKLOADS = [
    {
        "name": "pgn_etl",
        "why": "the reference's own job: PGN batches through run_pipeline(transactional=True); "
        "only workload on sources.pgn/rest/txntable and pipelines ingest/clean/enrich",
    },
    {
        "name": "corpus_curation",
        "why": "q57 curation funnel and q65 decontamination via the query registry over a seeded "
        "corpus with planted duplicates; work in pipelines.corpus and operators.dedup, no pgn_etl module",
    },
]

# name, unit, bound (share of the parent's median a later change may add).
# Times are process-tree CPU seconds: setup_s is the CPU of the session
# start plus the median CPU of the input generations, cpu_s the CPU of
# the unit. Wall-clock readings (wall_s, setup_wall_s, items_per_s) are
# kept in every record and printed, but not bounded: on a shared VM,
# hypervisor steal stretches a cold unit's wall by up to 60% and the
# session start's by up to 85% (the record's steal_s shows it), while
# process CPU moves by far less.
END_TO_END = [
    ("setup_s", "s", 0.25),
    ("cpu_s", "s", 0.25),
    ("peak_pss_mb", "MB", 0.25),
]

# layers carrying spans, in pipeline order; each reports BASE_LAYER_METRICS
SPAN_LAYERS = [
    "sources.pgn",
    "pipelines.ingest",
    "pipelines.clean",
    "pipelines.run_all",
    "pipelines.enrich",
    "sources.rest",
    "sources.txntable",
    "tables",
    "queries",
    "pipelines.corpus",
    "operators.dedup",
]
BASE_LAYER_METRICS = [
    ("busy_s", "s"),
    ("jobs", "count"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
]
EXTRA_LAYER_METRICS = [
    ("session.start_s", "s"),
    ("sources.pgn.games_out", "count"),
    ("sources.pgn.bytes_in", "bytes"),
    ("pipelines.clean.deleted_frac", "ratio"),
    ("sources.rest.fetch_calls", "count"),
    ("sources.rest.useful_frac", "ratio"),
    ("sources.txntable.commits", "count"),
    ("sources.txntable.bytes_written", "bytes"),
    ("sources.txntable.write_amp", "ratio"),
    ("sources.txntable.files_live", "count"),
    ("sources.txntable.stored_bytes_per_input_byte", "ratio"),
    ("tables.scan_bytes", "bytes"),
    ("queries.build_s", "s"),
    ("queries.exec_s", "s"),
    ("queries.analysis_ms", "ms"),
    ("queries.optimization_ms", "ms"),
    ("queries.planning_ms", "ms"),
    ("queries.eager_jobs", "count"),
    ("pipelines.corpus.kept_frac", "ratio"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.confirmed_pairs", "count"),
    ("operators.dedup.precision", "ratio"),
    ("bench.trace_overhead_frac", "ratio"),
]

# more-is-better per-layer metrics (everything else: lower is better)
_HIGHER = {
    "sources.pgn.games_out",
    "sources.rest.useful_frac",
    "pipelines.corpus.kept_frac",
    "operators.dedup.precision",
}


def per_layer() -> list[tuple[str, str]]:
    base = [(f"{layer}.{m}", unit) for layer in SPAN_LAYERS for m, unit in BASE_LAYER_METRICS]
    return base + EXTRA_LAYER_METRICS


def manifest() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": [
            {"name": n, "unit": u, "better": "lower", "bound": b}
            for n, u, b in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "higher" if n in _HIGHER else "lower"}
            for n, u in per_layer()
        ],
    }


def manifest_text() -> str:
    return json.dumps(manifest(), indent=2) + "\n"
