"""Workload shapes shared by the generator and the measured process.

Every size is derived from (workload, seconds) only; the seed only picks
the url relabelling (gen.py), so one seed always yields the same inputs.
See DESIGN.md for why each number was chosen.
"""

from __future__ import annotations

WORKLOADS = ("backfill", "tail")

# changelog shape common to both workloads (datagen.gen_changelog_spark)
SKEW = 0.2
REVERT_EVERY_BLOCKS = 50
RETENTION_BLOCKS = 200
EVENTS_PER_URL = 20
N_BUCKETS = 4
CORES = 4
# seed of the base changelogs every seeded input is relabelled from
BASE_SEED = 42

# backfill: a backlog of BACKFILL_EVENTS_PER_S x seconds events (about what
# the drain commits per second here, so it lasts about --seconds) written as
# BACKFILL_FILES files and drained BACKFILL_FILES_PER_TRIGGER at a time
BACKFILL_EVENTS_PER_S = 4_000
BACKFILL_FILES = 8
BACKFILL_FILES_PER_TRIGGER = 4
BACKFILL_EVENTS_PER_BLOCK = 500

# tail: every TAIL_BURST_INTERVAL_S seconds (at 0, P, 2P, ... <= seconds) a
# burst of TAIL_FILES_PER_BURST files of TAIL_EVENTS_PER_FILE events lands
# as one directory (open loop, fixed schedule)
TAIL_BURST_INTERVAL_S = 8
TAIL_FILES_PER_BURST = 50
TAIL_EVENTS_PER_FILE = 100
TAIL_EVENTS_PER_BLOCK = 100

# warm-up backlog drained before timing (one trigger, its own pipeline)
WARM_EVENTS = 2_000

# scaling probe: the backfill's first files, or every landed tail file
PROBE_BACKFILL_FILES = 2


def input_shape(workload: str, seconds: int) -> dict:
    """Generator parameters of a workload's changelog."""
    if workload == "backfill":
        return {
            "n_events": BACKFILL_EVENTS_PER_S * seconds,
            "n_files": BACKFILL_FILES,
            "events_per_block": BACKFILL_EVENTS_PER_BLOCK,
        }
    if workload == "tail":
        n_files = tail_bursts(seconds) * TAIL_FILES_PER_BURST
        return {
            "n_events": n_files * TAIL_EVENTS_PER_FILE,
            "n_files": n_files,
            "events_per_block": TAIL_EVENTS_PER_BLOCK,
        }
    raise ValueError(f"unknown workload {workload!r}")


def n_urls(n_events: int) -> int:
    return max(16, n_events // EVENTS_PER_URL)


def tail_bursts(seconds: int) -> int:
    return seconds // TAIL_BURST_INTERVAL_S + 1
