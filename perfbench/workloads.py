"""The benchmark's workloads and their seeded inputs.

Both workloads are closed loops with one client thread on `local[N]`, N the
number of cores. An op is one timed call into the engine; a pass is the
workload's op list run once.

- `star_etl` is `F1Pipeline.run` on a seeded wide CSV: `buildAll` once per
  pass, then `Sinks.parquet` for each of the 16 star tables.
- `query_mix` runs `SparkEntry` queries over a generated parquet corpus,
  each constructed and then written to the `noop` sink. The seed permutes
  the query order of every pass; the corpus is the same in every run.
"""
import random

CORPUS_SEED = 42

# ROADMAP #3: a caller of `ops.Skew`.
SKEW = ["q71_edit_distance"]
# ROADMAP #4: a caller of the ordered-scan operators (Quantiles).
ORDERED_SCAN = ["q219_distributed_quantile"]
STAR_QUERIES = ["q07_star_join_revenue", "q12_rank_in_nation"]
TPCH = ["q136_tpch_q3"]
STREAMING = ["q33_stream_hourly"]
TXLOG = ["q374_txlog_time_travel"]

QUERY_MIX = STAR_QUERIES + TPCH + SKEW + ORDERED_SCAN + STREAMING + TXLOG

WORKLOADS = ("star_etl", "query_mix")

# Untimed passes before the clock starts. The first pass of a fresh JVM
# runs 2-7x slower than later ones (class loading, JIT, first-touch file
# metadata). The JIT keeps compiling for several passes more: on 4 cores
# the second pass still ran about 20% slower than the third, and the third
# (the first timed one) 5-25% slower than the fourth. The median of the
# timed passes leaves that first one out.
WARMUP_PASSES = 2

# A warm pass of either workload takes about this long on 4 cores. The
# number of timed passes is `--seconds` divided by it, so that the parent
# and a change run the same work: a time-based loop would give the faster
# side more, and later, passes.
NOMINAL_PASS_S = 8.0


def timed_passes(seconds, trace):
    """Timed passes for a `--seconds` window. A traced run needs at least
    four: untraced, traced, traced, untraced."""
    return max(4 if trace else 1, round(seconds / NOMINAL_PASS_S))


# Orders beyond this many passes repeat from the first.
MAX_PASSES = 64


def orders(seed, ops=QUERY_MIX):
    """Per-pass op orders for `seed`: the same seed, the same orders."""
    rng = random.Random(seed)
    return [rng.sample(ops, len(ops)) for _ in range(MAX_PASSES)]
