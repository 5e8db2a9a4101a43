"""The benchmark's workloads, their fixed request lists and the layer
names the traced run reports.

The seed sets the order of requests and nothing else: the inputs are
the same tables for every seed (see inputs.py).
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str  # "sf0.1" (test fixture) or "sf1.0" (10x replica)
    # (stage, entries): the seed permutes entries within a stage only
    stages: tuple[tuple[str, tuple[str, ...]], ...]
    # registry entries that fail on hosts without the reference capture
    # logs; attempted once per run after the timed window and recorded,
    # but not counted in the result line (a counted workload must not
    # fail on a host that lacks a path outside the repository)
    known_failing: tuple[str, ...] = ()

    def entries(self) -> list[str]:
        return [op for _, ops in self.stages for op in ops]

    def order(self, seed: int) -> list[str]:
        rng = random.Random(f"{self.name}:{seed}")
        out: list[str] = []
        for _, ops in self.stages:
            ops = list(ops)
            rng.shuffle(ops)
            out.extend(ops)
        return out


# Light entries, at least one from every batch analytic module except
# retrieval (measured on curation_pipeline, whose index build is its
# heaviest part); no streaming, no io_ops sources or sinks, no
# multimodal decoders. Sized so one pass takes under 20 s on a 4-CPU
# host, which keeps a full check within its time budget.
ANALYST_POOL = (
    # relational
    "str_norm", "join_left_anti", "sort_topk",
    # advanced_aggs
    "ml_auc_rank",
    # datapipe
    "samp_stratified_hash",
    # similarity
    "sim_range_search",
    # quality
    "sec_l_diversity",
    # components: builds the shared minhash pair front
    "graph_neighbor_jaccard",
    # sessions
    "map_entry_ops",
    # reference_scalars
    "url_tld_domain",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="analyst_mix",
            scale="sf0.1",
            stages=(("pool", ANALYST_POOL),),
        ),
        Workload(
            name="scale_batch",
            scale="sf1.0",
            stages=(
                (
                    "batch",
                    ("agg_hash_groupby", "join_equi_hash"),
                ),
            ),
        ),
        Workload(
            name="curation_pipeline",
            scale="sf0.1",
            stages=(
                # streaming admission: stages the event stream input the
                # export streams reuse and keeps per-user state (the
                # streaming.stateful module's entry)
                ("ingest", ("stream_custom_state",)),
                ("parse_filter", ("flt_member_pe_au",)),
                ("enrich", ("agg_priority_coalesce",)),
                ("extract_match", ("html_extract_names", "join_score_argmax")),
                # near-duplicate removal, the inverted-index build, a
                # multimodal decode
                ("curate", ("dedup_minhash_lsh", "idx_inverted", "mm_decode_png")),
                ("export", ("snk_stream_parquet",)),
            ),
            known_failing=("seed_extract_pe_firms", "seed_log_stats"),
        ),
    )
}

# Layer names of the traced run's plan spans: the package's 15 plan
# modules plus the two streaming modules.
PLAN_MODULES = (
    "advanced_aggs", "components", "datapipe", "enrichment", "io_ops",
    "matching", "multimodal", "quality", "reference_scalars", "relational",
    "retrieval", "seed_pipeline", "sessions", "similarity", "textops",
    "streaming.windows", "streaming.stateful",
)

# (reported name, counter key from telemetry, unit, factor)
COUNTERS = (
    ("spark.jobs", "spark.jobs", "count", 1),
    ("spark.stages", "spark.stages", "count", 1),
    ("spark.stages_skipped", "spark.stages_skipped", "count", 1),
    ("spark.tasks", "spark.tasks", "count", 1),
    ("spark.tasks_failed", "spark.tasks_failed", "count", 1),
    ("spark.executor_run_s", "spark.executor_run_s", "s", 1),
    ("spark.executor_cpu_s", "spark.executor_cpu_s", "s", 1),
    ("spark.jvm_gc_s", "spark.jvm_gc_s", "s", 1),
    ("sources.scan_s", "sources.scan_s", "s", 1),
    ("sources.files_read", "sources.files_read", "count", 1),
    ("sources.read_mb", "sources.read_bytes", "MB", 2**-20),
    ("exchange.shuffle_write_mb", "exchange.shuffle_write_bytes", "MB", 2**-20),
    ("exchange.shuffle_read_mb", "exchange.shuffle_read_bytes", "MB", 2**-20),
    ("exchange.fetch_wait_s", "exchange.fetch_wait_s", "s", 1),
    ("exchange.spill_mb", "exchange.spill_bytes", "MB", 2**-20),
    ("python.run_s", "python.run_s", "s", 1),
    ("python.start_s", "python.start_s", "s", 1),
    ("python.io_mb", "python.io_bytes", "MB", 2**-20),
    ("streaming.batches", "streaming.batches", "count", 1),
    ("streaming.input_rows", "streaming.input_rows", "count", 1),
    ("streaming.add_batch_s", "streaming.add_batch_s", "s", 1),
    ("streaming.commit_s", "streaming.commit_s", "s", 1),
    ("sinks.files_written", "sinks.files_written", "count", 1),
    ("sinks.written_mb", "sinks.written_bytes", "MB", 2**-20),
)
