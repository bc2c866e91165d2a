"""The measured process: one workload run, or the one-core scaling leg.

Started by run.py after the inputs exist; it receives only files. It
prints one JSON object on its last stdout line.

    python3 cdcbench/measure.py --workload backfill --input DIR --work DIR \
        [--trace-dir DIR]
    python3 cdcbench/measure.py --leg scale --cores 1 --input DIR --work DIR \
        --probe-dir DIR
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import spec  # noqa: E402
from cdcbench.gate import gate  # noqa: E402
from cdcbench.trace import (  # noqa: E402
    JobIndex,
    Tracer,
    covered,
    descendants,
    parse_time,
    status_api,
)

# the target's public calls the pipeline makes (lookup and compact have no
# caller in these workloads: no reader, no compact_every)
LAKE_METHODS = ("merge", "read", "applied_batch_ids", "current_version")
META_METHODS = ("lake.applied_batch_ids", "lake.current_version")
PHASES = ("log_append", "candidates_lww", "undo_log", "audit", "lww_merge", "compact")
# replays of a small input keep speeding up for several runs of the plan
# (JIT): time REPLAY_REPS of them after REPLAY_WARM untimed ones
REPLAY_WARM = 4
REPLAY_REPS = 3
TAIL_COMMIT_TIMEOUT_S = 90


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _vmhwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _quantile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive linear interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _slope(ys: list[float]) -> float:
    """Least-squares slope of ys against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Bench:
    """One measured process: a Spark session and the pipelines it drives."""

    def __init__(self, args) -> None:
        self.a = args
        self.work = os.path.abspath(args.work)
        self.input = os.path.abspath(args.input)
        with open(os.path.join(self.input, "meta.json")) as f:
            self.meta = json.load(f)
        self.tracer = Tracer() if args.trace_dir else None
        self.spark = None

    # ------------------------------------------------------------ helpers
    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def start_session(self) -> float:
        from gnarly_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.tracer is not None:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        t = time.monotonic()
        with self.span("session.get_spark"):
            self.spark = get_spark(app_name="cdcbench", cpus=self.a.cores, extra_conf=conf)
        return time.monotonic() - t

    def pipeline(self, name: str, traced: bool = False):
        from gnarly_spark.sinks.lake import ParquetLakeTable
        from gnarly_spark.streaming.pipeline import CdcIngestPipeline

        work = os.path.join(self.work, name)
        target = ParquetLakeTable(
            self.spark, os.path.join(work, "pages"), key="url", n_buckets=spec.N_BUCKETS
        )
        p = CdcIngestPipeline(
            self.spark, work, target=target, retention_blocks=spec.RETENTION_BLOCKS
        )
        if traced and self.tracer is not None:
            self.tracer.wrap(p, "process_batch", "pipeline.process_batch")
            for m in LAKE_METHODS:
                self.tracer.wrap(target, m, f"lake.{m}")
        return p

    def drain(self, p, src: str, files_per_trigger: int | None):
        """available_now drain -> (query, wall time from start() to the
        return of awaitTermination()). A failed batch does not raise here:
        it stays on the query's ``exception()`` and fails the run."""
        from pyspark.errors import StreamingQueryException

        t = time.monotonic()
        q = p.start(src, available_now=True, max_files_per_trigger=files_per_trigger)
        try:
            q.awaitTermination()
        except StreamingQueryException:
            pass
        return q, time.monotonic() - t

    def warm_up(self) -> float:
        """Pipeline construction + a drain of the warm-up backlog into its
        own pipeline: compiles the batch plans and starts Python workers."""
        with self.span("setup.warm_up"):
            t = time.monotonic()
            self.drain(self.pipeline("warm"), os.path.join(self.input, "warm"), None)
            return time.monotonic() - t

    def replay(self, src: str, n_rows: int, reps: int = REPLAY_REPS, warm: int = REPLAY_WARM) -> float:
        """Events/s of the median of ``reps`` fresh-plan replays to a noop
        sink, after ``warm`` untimed ones that compile the replay plan."""
        from gnarly_spark.fixtures import CHANGELOG_DDL
        from gnarly_spark.operators.replay import final_state

        times = []
        for _ in range(warm + reps):
            with self.span("replay.final_state"):
                t = time.monotonic()
                df = final_state(self.spark.read.schema(CHANGELOG_DDL).parquet(src))
                df.write.format("noop").mode("overwrite").save()
                times.append(time.monotonic() - t)
        self.replay_times = times
        return n_rows / statistics.median(times[warm:])

    def check(self, p, src: str) -> dict:
        from gnarly_spark.fixtures import CHANGELOG_DDL
        from gnarly_spark.operators.replay import final_state

        with self.span("bench.gate"):
            return gate(p.pages(), final_state(self.spark.read.schema(CHANGELOG_DDL).parquet(src)))

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (_vmhwm_kb(jvm_pid) + _vmhwm_kb("self")) / 1024.0

    @staticmethod
    def commit_times(progress: list) -> dict[int, float]:
        """batchId -> commit epoch (trigger start + triggerExecution)."""
        return {
            pr["batchId"]: parse_time(pr["timestamp"]) + pr["durationMs"]["triggerExecution"] / 1000.0
            for pr in progress
        }

    # ----------------------------------------------------------- workloads
    def run_backfill(self) -> dict:
        src = os.path.join(self.input, "changelog")
        p = self.pipeline("timed", traced=True)
        if self.tracer:
            self.tracer.run = "timed"
        with self.span("bench.drain"):
            due = time.time()
            q, wall = self.drain(p, src, spec.BACKFILL_FILES_PER_TRIGGER)
        ms = p.metrics()
        events = sum(m["n_events"] for m in ms)
        return {
            "p": p, "src": src, "query": q, "metrics": ms,
            "due": {f: due for f in self.meta["files"]},
            "ingest_events_per_s": events / wall,
            "late_s": [0.0],
            "probe_files": [os.path.join(src, f) for f in self.meta["files"][: spec.PROBE_BACKFILL_FILES]],
        }

    def run_tail(self) -> dict:
        """Open loop: burst k of the pre-staged files lands at t0 + k*P as
        one directory rename, so a trigger sees all of a burst or none."""
        stage = os.path.join(self.work, "stage")
        src = os.path.join(self.work, "landed")
        os.makedirs(os.path.join(src, "b-start"))  # the glob never matches nothing
        bursts = sorted(os.listdir(stage))
        p = self.pipeline("timed", traced=True)
        if self.tracer:
            self.tracer.run = "timed"
        q = p.start(os.path.join(src, "*"), available_now=False, max_files_per_trigger=None)
        due, late = {}, []

        def land() -> None:
            t0 = time.time() + 0.5
            for k, b in enumerate(bursts):
                d = t0 + k * spec.TAIL_BURST_INTERVAL_S
                pause = d - time.time()
                if pause > 0:
                    time.sleep(pause)
                names = sorted(os.listdir(os.path.join(stage, b)))
                for i, f in enumerate(names):
                    # file-source order (mtime) = name order = op_seq order
                    os.utime(os.path.join(stage, b, f), (d + i * 1e-3, d + i * 1e-3))
                os.rename(os.path.join(stage, b), os.path.join(src, b))
                late.append(time.time() - d)
                due.update({f: d for f in names})

        with self.span("bench.drain"):
            lander = threading.Thread(target=land, name="cdcbench-lander")
            lander.start()
            lander.join()
            # a file is committed once the trigger that consumed it has
            # reported progress (foreachBatch returns before the offsets
            # commit, so the pipeline's own metrics come too early)
            deadline = time.monotonic() + TAIL_COMMIT_TIMEOUT_S
            while time.monotonic() < deadline and q.exception() is None:
                reported = {pr["batchId"] for pr in q.recentProgress}
                done = {
                    os.path.basename(f)
                    for m in p.metrics() if m["batch_id"] in reported
                    for f in m["lineage"]["files"] or []
                }
                if done >= set(due):
                    break
                time.sleep(0.1)
            q.stop()
        ms = p.metrics()
        busy = [pr for pr in q.recentProgress if pr["numInputRows"] > 0]
        events = sum(m["n_events"] for m in ms)
        return {
            "p": p, "src": os.path.join(src, "*"), "query": q, "metrics": ms, "due": due,
            "ingest_events_per_s": events / (sum(pr["durationMs"]["triggerExecution"] for pr in busy) / 1000.0),
            "late_s": late,
            "probe_files": [os.path.join(src, b, f) for b in bursts for f in os.listdir(os.path.join(src, b))],
        }

    def stage_tail_files(self) -> None:
        """Copy the tail's files into one staging directory per burst."""
        files = self.meta["files"]
        per = spec.TAIL_FILES_PER_BURST
        for k in range(0, len(files), per):
            d = os.path.join(self.work, "stage", f"b{k // per:04d}")
            os.makedirs(d)
            for f in files[k:k + per]:
                shutil.copyfile(os.path.join(self.input, "changelog", f), os.path.join(d, f))

    # -------------------------------------------------------------- main
    def run(self) -> dict:
        if self.a.workload == "tail":
            self.stage_tail_files()
        session_s = self.start_session()
        warm_up_s = self.warm_up()
        setup_s = session_s + warm_up_s
        t = time.monotonic()
        r = self.run_backfill() if self.a.workload == "backfill" else self.run_tail()
        drain_s = time.monotonic() - t
        p, q, ms = r["p"], r["query"], r["metrics"]

        progress = [pr for pr in q.recentProgress if pr["numInputRows"] > 0]
        commits = self.commit_times(progress)
        consumed, fresh = set(), []
        for m in ms:
            for f in m["lineage"]["files"] or []:
                name = os.path.basename(f)
                if name in r["due"] and m["batch_id"] in commits:
                    consumed.add(name)
                    fresh.append(commits[m["batch_id"]] - r["due"][name])
        never = set(r["due"]) - consumed

        n_rows = self.spark.read.parquet(r["src"]).count()
        if self.tracer:
            self.tracer.run = "replay"
        # a traced run reports replay CPU and bytes, not its rate: one rep
        reps, warm = (1, 1) if self.tracer else (REPLAY_REPS, REPLAY_WARM)
        t = time.monotonic()
        replay_eps = self.replay(r["src"], n_rows, reps, warm)
        if self.tracer:
            self.tracer.run = "gate"
        g = self.check(p, r["src"])
        replay_gate_s = time.monotonic() - t
        # operations: micro-batches, landed files and the gate
        attempted = len(ms) + len(r["due"]) + 1
        failed = (q.exception() is not None) + len(never) + (not g["ok"])
        target = p.target
        lake_bytes = sum(x["bytes"] or 0 for x in target.data_files().collect())
        state_bytes = sum(_du(d) for d in (p.log_dir, p.undo_dir, p.audit_dir, p.checkpoint_dir))
        trig = [pr["durationMs"]["triggerExecution"] / 1000.0 for pr in progress]
        out = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "gate": g,
            "metrics": {
                "ingest_events_per_s": (r["ingest_events_per_s"], "events/s"),
                "replay_events_per_s": (replay_eps, "events/s"),
                "freshness_s_p50": (statistics.median(fresh), "s"),
                "freshness_s_p90": (_quantile(fresh, 90), "s"),
                "batch_commit_s_p50": (statistics.median(trig), "s"),
                "setup_s": (setup_s, "s"),
                "lake_bytes": (lake_bytes, "bytes"),
                "state_bytes": (state_bytes, "bytes"),
            },
            "detail": {
                "session_s": session_s, "warm_up_s": warm_up_s, "n_rows": n_rows,
                "events": sum(m["n_events"] for m in ms), "trigger_s": trig,
                "freshness_n": len(fresh), "replay_s": self.replay_times,
                "drain_s": drain_s, "replay_gate_s": replay_gate_s,
            },
        }
        if self.tracer is not None:
            out["layers"] = self.layers(r, progress, session_s, failed / attempted)
            out["layers"]["peak_rss_mb"] = (self.peak_rss_mb(), "MB")
            out["per_trigger"] = self.per_trigger
            out["probe"] = self.probe(r["probe_files"])
        return out

    # ------------------------------------------------------- traced run
    def layers(self, r: dict, progress: list, session_s: float, failed_frac: float) -> dict:
        """Per-layer metrics of the timed drain from spans + status API."""
        tr = self.tracer
        api = status_api(self.spark)
        idx = JobIndex(tr.spans, api)
        spans = tr.spans
        batches = [s for s in spans if s["name"] == "pipeline.process_batch" and s["run"] == "timed"]
        nb = max(1, len(batches))
        per = []
        for b in batches:
            sub = descendants(spans, b["id"])
            jobs = idx.jobs_under(sub)
            kids = [(s["start"], s["end"]) for s in spans if s["parent"] == b["id"]]
            dur = b["end"] - b["start"]
            per.append({
                "dur": dur,
                "self": dur - covered(kids, b["start"], b["end"]),
                "driver": dur - covered(idx.intervals(jobs), b["start"], b["end"]),
                "jobs": len(jobs),
                "stages": idx.n_stages(jobs),
                "cpu": idx.stage_sum(jobs, "executorCpuTime") / 1e9,
                "shuffle_w": idx.stage_sum(jobs, "shuffleWriteBytes"),
                "spill": idx.stage_sum(jobs, "memoryBytesSpilled") + idx.stage_sum(jobs, "diskBytesSpilled"),
                "out": idx.stage_sum(jobs, "outputBytes"),
            })
        batch_ids = {b["id"] for b in batches}
        lake = [s for s in spans if s["name"].startswith("lake.") and s["run"] == "timed"]
        merges = [s for s in lake if s["name"] == "lake.merge"]
        merge_jobs = idx.jobs_under(set().union(*[descendants(spans, s["id"]) for s in merges]) if merges else set())
        meta = [s for s in lake if s["name"] in META_METHODS and s["parent"] in batch_ids]
        reads = [s for s in lake if s["name"] == "lake.read" and s["parent"] in batch_ids]
        timed = set()
        for b in batches:
            timed |= descendants(spans, b["id"])
        replays = [s for s in spans if s["name"] == "replay.final_state"]
        replay_jobs = idx.jobs_under({s["id"] for s in replays})
        nr = max(1, len(replays))
        udf = idx.python_udf_metrics(timed)

        # files each commit of the timed drain added to the snapshot
        target = r["p"].target
        added = []
        for m in r["metrics"]:
            v = m["target_version"]
            now = {x["file"] for x in target.data_files(v).collect()}
            before = {x["file"] for x in target.data_files(v - 1).collect()} if v > 0 else set()
            added.append(len(now - before))
        phases = [m["phase_s"] for m in r["metrics"]]
        ovh = [(pr["durationMs"]["triggerExecution"] - pr["durationMs"].get("addBatch", 0)) / 1000.0 for pr in progress]

        def dms(key):
            return statistics.median([pr["durationMs"].get(key, 0) / 1000.0 for pr in progress])

        # jobs submitted while the timed drain ran: attributed when their
        # innermost span is a program call, not the drain itself
        drain_ids = {s["id"] for s in spans if s["name"] == "bench.drain"}
        in_drain = [s for s in idx.owner.values() if s is not None and (s in drain_ids or s in timed)]
        unattributed = sum(1 for s in in_drain if s in drain_ids)

        out = {
            "session.start_s": (session_s, "s"),
            "sources.triggers": (len(progress), "count"),
            "sources.trigger_overhead_s": (statistics.median(ovh), "s"),
            "sources.latest_offset_s": (dms("latestOffset"), "s"),
            "sources.wal_commit_s": (dms("walCommit"), "s"),
            "sources.query_planning_s": (dms("queryPlanning"), "s"),
            "sources.trigger_s_slope": (
                _slope([pr["durationMs"]["triggerExecution"] / 1000.0 for pr in progress]), "s/trigger"),
            "pipeline.batch_s": (_mean(x["dur"] for x in per), "s"),
            "pipeline.self_s": (_mean(x["self"] for x in per), "s"),
            "pipeline.driver_s": (_mean(x["driver"] for x in per), "s"),
            "pipeline.driver_s_slope": (_slope([x["driver"] for x in per]), "s/trigger"),
            "pipeline.jobs_per_batch": (_mean(x["jobs"] for x in per), "count"),
            "pipeline.jobs_per_batch_slope": (_slope([x["jobs"] for x in per]), "count/trigger"),
            "pipeline.stages_per_batch": (_mean(x["stages"] for x in per), "count"),
            "pipeline.executor_cpu_s": (_mean(x["cpu"] for x in per), "s"),
            "pipeline.shuffle_write_bytes": (_mean(x["shuffle_w"] for x in per), "bytes"),
            "pipeline.spill_bytes": (_mean(x["spill"] for x in per), "bytes"),
            "pipeline.output_bytes": (_mean(x["out"] for x in per), "bytes"),
            "pipeline.undo_bytes": (_mean(ph.get("undo_bytes", 0) for ph in phases), "bytes"),
            "lake.merge_s": (_mean(s["end"] - s["start"] for s in merges), "s"),
            "lake.merge_output_bytes": (idx.stage_sum(merge_jobs, "outputBytes") / max(1, len(merges)), "bytes"),
            "lake.files_added_per_commit": (_mean(added), "count"),
            "lake.meta_calls": (len(meta) / nb, "count"),
            "lake.meta_s": (sum(s["end"] - s["start"] for s in meta) / nb, "s"),
            "lake.read_s": (sum(s["end"] - s["start"] for s in reads) / nb, "s"),
            "replay.executor_cpu_s": (idx.stage_sum(replay_jobs, "executorCpuTime") / 1e9 / nr, "s"),
            "replay.shuffle_bytes": (idx.stage_sum(replay_jobs, "shuffleWriteBytes") / nr, "bytes"),
            "extraction.python_s": (udf["python_s"], "s"),
            "extraction.rows": (udf["rows"], "count"),
            "extraction.bytes_sent": (udf["bytes_sent"], "bytes"),
            "extraction.bytes_returned": (udf["bytes_returned"], "bytes"),
            "extraction.worker_start_s": (udf["worker_start_s"], "s"),
            "gen.late_s_max": (max(r["late_s"]), "s"),
            "trace.unattributed_job_frac": (unattributed / max(1, len(in_drain)), "ratio"),
            "failed_frac": (failed_frac, "ratio"),
        }
        for ph in PHASES:
            out[f"pipeline.phase.{ph}_s"] = (_mean(x.get(ph, 0.0) for x in phases), "s")
        # where each trigger's time goes (the tail attribution table)
        self.per_trigger = [
            {
                "trigger": i,
                "rows": pr["numInputRows"],
                "trigger_s": pr["durationMs"]["triggerExecution"] / 1000.0,
                "sources_overhead_s": ovh[i],
                "batch_s": x["dur"],
                "driver_s": x["driver"],
                "jobs": x["jobs"],
                "stages": x["stages"],
                "executor_cpu_s": x["cpu"],
            }
            for i, (pr, x) in enumerate(zip(progress, per))
        ]
        tdir = self.a.trace_dir
        os.makedirs(tdir, exist_ok=True)
        tr.dump(os.path.join(tdir, "spans.jsonl"))
        with open(os.path.join(tdir, "triggers.json"), "w") as f:
            json.dump({"progress": [json.loads(pr.json) if hasattr(pr, "json") else pr for pr in progress],
                       "per_trigger": self.per_trigger, "files_added": added,
                       "udf_metrics": idx.udf_raw}, f, default=str)
        return out

    def probe(self, files: list[str]) -> dict:
        """Scaling probe: ``files`` drained in one trigger into a fresh
        pipeline, then replayed. run.py repeats it at one core."""
        src = os.path.join(self.work, "probe_src")
        os.makedirs(src, exist_ok=True)
        for i, f in enumerate(sorted(files, key=os.path.basename)):
            dst = os.path.join(src, os.path.basename(f))
            if not os.path.exists(dst):
                shutil.copyfile(f, dst)
            os.utime(dst, (1e9 + i, 1e9 + i))  # file-source order = name order
        if self.tracer:
            self.tracer.run = "probe"
        p = self.pipeline("probe")
        _, wall = self.drain(p, src, None)
        events = sum(m["n_events"] for m in p.metrics())
        n_rows = self.spark.read.parquet(src).count()
        return {
            "dir": src,
            "ingest_events_per_s": events / wall,
            "replay_events_per_s": self.replay(src, n_rows, 1, 1),
        }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=spec.WORKLOADS)
    ap.add_argument("--leg", choices=("run", "scale"), default="run")
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, default=spec.CORES)
    ap.add_argument("--probe-dir")
    ap.add_argument("--trace-dir")
    a = ap.parse_args()
    b = Bench(a)
    try:
        if a.leg == "scale":
            b.start_session()
            b.warm_up()
            files = [os.path.join(a.probe_dir, f) for f in sorted(os.listdir(a.probe_dir))
                     if f.startswith("part-")]
            res = b.probe(files)
        else:
            res = b.run()
    finally:
        if b.spark is not None:
            b.spark.stop()
    print(json.dumps(res, default=str))


if __name__ == "__main__":
    main()
