"""Which registered entry points each workload times, and why.

Every workload is a closed loop with one client: its items run back to
back, in a seed-shuffled order, in one Spark session. The lists below
are the timed items; every other registered query is in
``untimed.EXCLUDED`` with its reason, so the self-test can check that
each query is in exactly one place.

Two workloads of six and eight items, because one run has to start a
JVM, set up five sessions, run a cold warm-up pass (in a fresh JVM the
first pass takes 10-14 s longer than the next one: code generation, JIT
compilation, Python worker start), measure one pass, check every output
and exit inside the per-run budget (3420 s over 4 + 22 x workloads
runs).

- ``query_jvm`` burns no Python-worker CPU: Catalyst planning, job
  scheduling, shuffle and joins do the work, and a stream twin's
  micro-batch machinery is measured here. It is the bypass workload for
  Python, Arrow-boundary, fan-width and matcache changes.
- ``python_curation`` is Python-worker bound: registered queries with a
  Python plan node, the dedup family's minhash signatures, then the
  reference's image curation workflows on a seed-generated folder, run
  cold (empty matcache, fresh output folders) in every pass, so
  matcache builds and writes (scratch parquet, tile parquet, sidecars,
  zip, converted images) sit inside the timed region.
"""

from __future__ import annotations

# JVM-only queries: the four whose noop-sink time exceeds 3x their
# count() time at sf0.1 (count() lets Catalyst prune the work away),
# then q1_pricing_summary, a JVM member of bench.py's r01 headline.
QUERY_JVM = [
    "parts_fuzzy_match_stats",
    "distinct_sketches",
    "value_percentiles_sketch",
    "docs_bpe_subword_tokens",
    "q1_pricing_summary",
]

# One availableNow stream twin, so the micro-batch machinery is timed.
STREAM_TWINS = [
    "orders_stream_counts",
]

# Queries with a MapInPandas / ArrowEvalPython node whose Python kernel
# disappears from the plan under count() (found by planning every
# Python-node query under count()), and one codec round trip.
QUERY_PYTHON = [
    "docs_unicode_normalize",
    "docs_wordpiece_tokens",
    "emb_semantic_decontam",
    "mm_resize_roundtrip",
]

# The dedup family's first shared index, built cold through matcache in
# every pass: the minhash signatures every dedup-family query reads
# (one materialize_once scratch-parquet build).
MATCACHE_COLD = [
    "minhash_signatures",
]

# The flagship tiling workflow (scan, header parse, tile pixels,
# sidecars, zip), format conversion, and the codecs in-process.
CURATION_STEPS = [
    "tile_folder",
    "convert_images",
    "codecs",
]

WORKLOADS = {
    "query_jvm": QUERY_JVM + STREAM_TWINS,
    "python_curation": QUERY_PYTHON + MATCACHE_COLD + CURATION_STEPS,
}
COLD_WORKLOADS = {"python_curation"}

# Scale factor of each workload's generated tables. Chosen from a sweep
# of every item's noop time over sf 0.002, 0.005, 0.01 and 0.02 (a
# least-squares line through the four, 4-core x86 host): at these
# scales the per-row share of an item's time is 0.46-0.77 for
# parts_fuzzy_match_stats, distinct_sketches, value_percentiles_sketch
# and q1_pricing_summary (0.03-0.40 at sf0.002), and 0.48-0.62 for the
# documents-table Python kernels, whose input stays at its 500-row
# floor below sf0.01. Larger scales do not fit the per-run budget.
SCALE = {"query_jvm": 0.01, "python_curation": 0.02}
