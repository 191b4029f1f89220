"""The benchmark's workloads: each is a list of items run as one pass.

An item is a registered query (``spark_hive_spark.plans.registry``) or
the reference's scorecard pipeline. Each list is kept short enough that
one run (fresh JVM, cold pass, warm pass, timed passes) takes about 40 s
on a 4-core host; README.md in this directory says what each stresses.
"""

from __future__ import annotations

#: JVM-only: planning, codegen, scans, shuffles. No Python workers, no
#: files written. A change to Python workers or staging predicts no
#: change here.
SQL_ANALYTICS = (
    "ref_top5_nations_by_avg_acctbal",
    "ref_top5_finished_orders_by_price",
    "ref_building_acctbal_stats_by_nation",
    "q1_pricing_summary",
    "q5_region_revenue",
    "q21_waiting_suppliers",
    "w_top3_parts_per_brand",
    "sessionize_events",
)

#: North-star curation operators: JVM hashing/shuffle plus Arrow-fed
#: mapInPandas / applyInPandas Python workers. Writes nothing.
LLM_CURATION = (
    "dedup_exact_normalized",
    "text_quality_scores",
    "neardup_embeddings",
    "pipeline_corpus_curation",
)

SCORECARD = "scorecard_pipeline"

#: Writes beside reads: the reference pipeline (CSV -> cache -> 3 jobs
#: -> ORC insertInto, read back), the ORC catalog roundtrip, a parquet
#: fixture hand-decoded page by page (codec path), and a Delta log
#: replay over four staged parquet parts (staging path).
STORAGE_IO = (
    SCORECARD,
    "ref_orc_roundtrip",
    "source_parquet_map_decode",
    "source_delta_log_replay",
)

WORKLOADS: dict[str, tuple[str, ...]] = {
    "sql_analytics": SQL_ANALYTICS,
    "llm_curation": LLM_CURATION,
    "storage_io": STORAGE_IO,
}

#: Scale factor of the generated fixture tables (sf0.01: 60k lineitem
#: rows). Per-query time here is dominated by planning, codegen, job
#: scheduling and worker round trips, which is what the passes measure.
SCALE_FACTOR = 0.01

#: Untimed passes after the cold one. JIT and codegen warm-up do not
#: level off within the few passes a run can afford; the per-pass JVM
#: counters in the run record show how far it has got.
WARM_PASSES = 1

#: Nominal seconds per pass: each list above takes about 4-6 s per
#: steady pass on 4 cores.
NOMINAL_PASS_S = 5.0


def timed_passes(seconds: float) -> int:
    """Timed passes for a ``seconds``-long window, at least three so that
    their median ignores one pass slowed by the host. Fixed by the window
    rather than by how fast passes run, so a faster program is compared
    over the same passes (warm-up still moves between passes)."""
    return max(3, round(seconds / NOMINAL_PASS_S))
