"""CDC-ingest benchmark entry point.

    python3 cdcbench/run.py --workload {backfill,tail} --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. Steps, each in its own process:

1. make this workload's changelog for (seed, seconds) in
   ``.cdcbench/inputs/`` unless it is already there (gen.py: the base
   changelogs once per checkout in a JVM, then a seeded relabelling);
2. run the workload against the generated files (measure.py), gated on the
   committed table matching the batch replay;
3. with ``--trace 1`` only: repeat the scaling probe at one core.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). A run whose gate fails prints its
result and exits 1. Everything is read and written under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from cdcbench import spec  # noqa: E402

DEADLINE_S = 170  # for the measured steps, once the inputs exist
# making the inputs; only the first run in a checkout builds the base
# changelogs in a JVM, and that run may take longer than the others
GEN_DEADLINE_S = 600
KEEP_INPUTS = 64
HEADLINE = "batch_commit_s_p50"  # the end-to-end metric trace overhead is taken on


class BenchError(Exception):
    pass


def _env(base: str) -> dict:
    tmp = os.path.join(base, "tmp")
    # spark scratch of earlier runs (a killed JVM leaves its block dirs)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def _wait_group_gone(pgid: int, timeout: float = 30.0) -> None:
    """Wait until no process of the group is left: the driver JVM is not
    our child, and it may still be exiting when its parent has."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _run(cmd: list[str], env: dict, log: str, deadline: float) -> str:
    """Run a child in its own process group; return its stdout. The whole
    group (driver JVM and Python workers included) is gone on return."""
    t = time.monotonic()
    with open(log, "ab") as err:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            out = None
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            _wait_group_gone(proc.pid)
    print(f"cdcbench: {os.path.basename(cmd[1])} took {time.monotonic() - t:.1f} s", file=sys.stderr)
    if out is None:
        raise BenchError(f"{os.path.basename(cmd[1])} timed out (log: {log})")
    if proc.returncode != 0:
        raise BenchError(f"{os.path.basename(cmd[1])} exited {proc.returncode} (log: {log})")
    return out.decode()


def _last_json(text: str) -> dict:
    lines = [line for line in text.strip().splitlines() if line.startswith("{")]
    if not lines:
        raise BenchError("child printed no result")
    return json.loads(lines[-1])


def ensure_inputs(base: str, a, env: dict, log: str, deadline: float) -> str:
    from cdcbench.gen import input_dir

    inputs = os.path.join(base, "inputs")
    out = input_dir(inputs, a.workload, a.seed, a.seconds)
    if not os.path.exists(os.path.join(out, "meta.json")):
        os.makedirs(inputs, exist_ok=True)
        _run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--inputs", inputs],
             env, log, deadline)
    os.utime(out)
    # keep the cache bounded: drop the least recently used seeded inputs
    entries = sorted(
        (os.path.join(inputs, d) for d in os.listdir(inputs)
         if not d.endswith(".tmp") and not d.startswith("base-")),
        key=os.path.getmtime,
    )
    for old in entries[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def _results_path(base: str, a) -> str:
    return os.path.join(base, "results", f"{a.workload}-t{a.seconds}.jsonl")


def layer_table(metrics: dict, per_trigger: list[dict]) -> str:
    rows = ["| metric | value | unit |", "|---|---|---|"]
    for k, v in metrics.items():
        rows.append(f"| {k} | {v['value']:.6g} | {v['unit']} |")
    if per_trigger:
        cols = list(per_trigger[0])
        rows += ["", "| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
        rows += ["| " + " | ".join(f"{t[c]:.4g}" for c in cols) + " |" for t in per_trigger]
    return "\n".join(rows) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")
    if not os.path.isfile(os.path.join(ROOT, "gnarly_spark", "streaming", "pipeline.py")):
        print("cdcbench: no gnarly_spark source next to the benchmark", file=sys.stderr)
        return 2

    # a terminated run still takes its children (and their JVMs) down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".cdcbench")
    os.makedirs(os.path.join(base, "logs"), exist_ok=True)
    env = _env(base)
    tag = f"{a.workload}-s{a.seed}-{os.getpid()}"
    log = os.path.join(base, "logs", f"{tag}.log")
    work = os.path.join(base, "runs", tag)
    trace_dir = os.path.join(base, "trace", f"{a.workload}-s{a.seed}")
    try:
        inputs = ensure_inputs(base, a, env, log, time.monotonic() + GEN_DEADLINE_S)
        deadline = time.monotonic() + DEADLINE_S
        with open(os.path.join(inputs, "meta.json")) as f:
            meta = json.load(f)
        cmd = [sys.executable, os.path.join(HERE, "measure.py"), "--workload", a.workload,
               "--input", inputs, "--work", work]
        if a.trace:
            shutil.rmtree(trace_dir, ignore_errors=True)
            cmd += ["--trace-dir", trace_dir]
        res = _last_json(_run(cmd, env, log, deadline))
        if a.trace:
            one = _last_json(_run(
                [sys.executable, os.path.join(HERE, "measure.py"), "--leg", "scale",
                 "--cores", "1", "--input", inputs, "--work", os.path.join(work, "core1"),
                 "--probe-dir", res["probe"]["dir"]],
                env, log, deadline))
    except BenchError as e:
        print(f"cdcbench: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {k: {"value": v[0], "unit": v[1]} for k, v in res["metrics"].items()}
    if a.trace:
        four = res["probe"]
        hist = []
        if os.path.exists(_results_path(base, a)):
            with open(_results_path(base, a)) as f:
                hist = [json.loads(line)[HEADLINE] for line in f if line.strip()]
        layers = {k: {"value": v[0], "unit": v[1]} for k, v in res["layers"].items()}
        extra = {
            "gen_s": (meta["gen_s"], "s"),
            "ingest.scaling_eff_1to4": (four["ingest_events_per_s"] / one["ingest_events_per_s"] / 4, "ratio"),
            "replay.scaling_eff_1to4": (four["replay_events_per_s"] / one["replay_events_per_s"] / 4, "ratio"),
            # traced / untraced - 1 on the headline, against this checkout's
            # earlier untraced runs of the workload (0 runs: reported as 0)
            "trace.overhead_frac": (
                e2e[HEADLINE]["value"] / statistics.median(hist) - 1 if hist else 0.0, "ratio"),
            "trace.overhead_base_runs": (len(hist), "count"),
        }
        layers.update({k: {"value": v[0], "unit": v[1]} for k, v in extra.items()})
        with open(os.path.join(trace_dir, "layers.md"), "w") as f:
            f.write(layer_table(layers, res["per_trigger"]))
        print(layer_table(layers, res["per_trigger"]), file=sys.stderr)
        metrics = layers
    else:
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        with open(_results_path(base, a), "a") as f:
            f.write(json.dumps({k: v["value"] for k, v in e2e.items()}) + "\n")
        metrics = e2e
    print(json.dumps({"gate": res["gate"], "detail": res["detail"]}), file=sys.stderr)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
