"""Input generation, run in its own process before the measured one.

Two steps, so that a run's inputs cost seconds, not a JVM start:

1. **Base** (once per checkout and ``--seconds``): every workload's
   changelog from ``datagen.gen_changelog_spark`` with a fixed seed, files
   in op_seq order, plus the small warm-up backlog, all in one JVM, into
   ``--inputs/base-t<seconds>/``.
2. **Seeded copy** (once per seed, no JVM): the workload's base files with
   every url relabelled by a permutation of the url ids drawn from
   ``--seed`` (``numpy.random.default_rng``), into
   ``--inputs/<workload>-s<seed>-t<seconds>/``. Row order, op_seq, blocks,
   reverts, deletes and the per-url event counts stay as generated; which
   url (and so which lake bucket) each event hits changes with the seed.

A directory holding ``meta.json`` is complete. Usage (from the checkout
root):

    python3 cdcbench/gen.py --workload backfill --seed 1 --seconds 10 --inputs DIR
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import spec  # noqa: E402

URL_PREFIX = "https://site-"


def _write(spark, out: str, n_events: int, n_files: int, epb: int, seed: int) -> list[str]:
    from gnarly_spark.datagen import gen_changelog_spark
    from gnarly_spark.sources.changelog import order_files_by_name

    df = gen_changelog_spark(
        spark,
        n_events,
        events_per_block=epb,
        n_urls=spec.n_urls(n_events),
        revert_every_blocks=spec.REVERT_EVERY_BLOCKS,
        skew=spec.SKEW,
        seed=seed,
    )
    # range partitions + in-partition sort: file NAME order is op_seq order,
    # and order_files_by_name makes mtime order (what the file source
    # follows) agree with it
    df.repartitionByRange(n_files, "op_seq").sortWithinPartitions("op_seq").write.parquet(out)
    order_files_by_name(out)
    return sorted(os.path.basename(f) for f in glob.glob(os.path.join(out, "part-*")))


def base_dir(inputs: str, seconds: int) -> str:
    return os.path.join(inputs, f"base-t{seconds}")


def input_dir(inputs: str, workload: str, seed: int, seconds: int) -> str:
    return os.path.join(inputs, f"{workload}-s{seed}-t{seconds}")


def make_base(base: str, seconds: int) -> None:
    """Every workload's changelog with the base seed, in one JVM."""
    from gnarly_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(
        app_name="cdcbench-gen",
        cpus=spec.CORES,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    tmp = base + ".tmp"
    try:
        shutil.rmtree(tmp, ignore_errors=True)
        _write(spark, os.path.join(tmp, "warm"), spec.WARM_EVENTS, 1,
               spec.BACKFILL_EVENTS_PER_BLOCK, spec.BASE_SEED + 1)
        for w in spec.WORKLOADS:
            shape = spec.input_shape(w, seconds)
            files = _write(
                spark, os.path.join(tmp, w), shape["n_events"], shape["n_files"],
                shape["events_per_block"], spec.BASE_SEED,
            )
            with open(os.path.join(tmp, f"{w}.json"), "w") as f:
                json.dump({"files": files, **shape}, f)
    finally:
        spark.stop()
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"gen_s": time.monotonic() - t0, "seed": spec.BASE_SEED}, f)
    shutil.rmtree(base, ignore_errors=True)
    os.replace(tmp, base)


def relabel(table: pa.Table, perm: np.ndarray) -> pa.Table:
    """Url id i becomes perm[i], in ``url`` and in the html title that
    carries it; revert rows (NULL url) are left alone."""
    new = {}
    urls, htmls = [], []
    for u, h in zip(table.column("url").to_pylist(), table.column("html").to_pylist()):
        if u is not None:
            if u not in new:
                p = int(perm[int(u.rsplit("/", 1)[1])])
                new[u] = f"{URL_PREFIX}{p % 100}.example/page/{p}"
            if h is not None:
                h = h.replace(u.encode(), new[u].encode(), 1)
            u = new[u]
        urls.append(u)
        htmls.append(h)
    for name, values in (("url", urls), ("html", htmls)):
        i = table.schema.get_field_index(name)
        table = table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))
    return table


def make_seeded(base: str, out: str, workload: str, seed: int) -> None:
    from gnarly_spark.sources.changelog import order_files_by_name

    t0 = time.monotonic()
    with open(os.path.join(base, f"{workload}.json")) as f:
        shape = json.load(f)
    with open(os.path.join(base, "meta.json")) as f:
        base_gen_s = json.load(f)["gen_s"]
    perm = np.random.default_rng(seed).permutation(spec.n_urls(shape["n_events"]))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "changelog"))
    n_rows = 0
    for name in shape["files"]:
        t = relabel(pq.read_table(os.path.join(base, workload, name)), perm)
        pq.write_table(t, os.path.join(tmp, "changelog", name), compression="zstd")
        n_rows += t.num_rows
    order_files_by_name(os.path.join(tmp, "changelog"))
    shutil.copytree(os.path.join(base, "warm"), os.path.join(tmp, "warm"))
    meta = {
        "workload": workload, "seed": seed, "n_rows": n_rows,
        # the base's JVM is shared by every workload and seed built on it
        "gen_s": base_gen_s + time.monotonic() - t0,
        **shape,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    a = ap.parse_args()

    base = base_dir(a.inputs, a.seconds)
    if not os.path.exists(os.path.join(base, "meta.json")):
        make_base(base, a.seconds)
    out = input_dir(a.inputs, a.workload, a.seed, a.seconds)
    if not os.path.exists(os.path.join(out, "meta.json")):
        make_seeded(base, out, a.workload, a.seed)


if __name__ == "__main__":
    main()
