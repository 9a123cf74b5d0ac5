"""Workload definitions shared by the launcher and the measured process."""

from __future__ import annotations

# The paper's own program, run through the CLI twice per pass: two passes
# over the tiles plus the CSV sink and deciles, and a known-range run that
# skips pass 1.
RASTER_JOBS = ("raster_two_pass", "raster_known_range")
RASTER_TILES = 8  # the last tile is all NaN
RASTER_SIZE = 1024  # pixels per side; 256x256 internal tiles
RASTER_PASS_S = 4.0  # nominal warm pass on a 4-core box

# Eight declared queries by registry name, from every family of the
# declared surface: histogram + deciles, relational (broadcast and shuffled
# joins, a build-time persist), dedup and corpus, similarity. Few enough
# that a cold pass and three warm passes fit in one run.
CATALOG_JOBS = (
    "histogram_deciles",
    "pricing_summary", "local_supplier_revenue", "waiting_suppliers",
    "dedup_minhash", "normalized_dedup", "corpus_pipeline",
    "similarity_topk_lsh",
)
CATALOG_PASS_S = 8.0
# Corpus outputs written through sources.sinks.write_parquet, so a write
# sits beside the reads; their check reads the parquet back.
SINK_JOBS = ("normalized_dedup", "corpus_pipeline")

WORKLOADS = {
    "raster_ep1": RASTER_JOBS,
    "catalog_sf001": CATALOG_JOBS,
}

# Nominal warm pass time per workload: ``--seconds`` buys
# ``round(seconds / PASS_S[w])`` warm passes (at least one), the same number
# on every run, so every run takes the same number of samples.
PASS_S = {"raster_ep1": RASTER_PASS_S, "catalog_sf001": CATALOG_PASS_S}

ALL_JOBS = tuple(j for jobs in WORKLOADS.values() for j in jobs)


def warm_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))
