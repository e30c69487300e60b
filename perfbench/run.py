"""Layered benchmark of ratatool_spark: one workload per run.

    python3 perfbench/run.py --workload sample_diff --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets up (Spark session, inputs, one warm-up pass), then repeats
the workload's pass until ``--seconds`` have elapsed, checking every
output. The last stdout line is one JSON object: the end-to-end metrics
(``--trace 0``) or the per-layer metrics of a traced run (``--trace 1``).
Scratch data lives under ``.perfbench_work/`` in the checkout and is
removed at exit; the run's spans are kept in ``.perfbench_out/``. See ``perfbench/README.md`` for the workloads and metrics.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The library's session knobs, pinned so that every run (and the knob A/Bs
# that reuse this benchmark) sees the same settings whatever the caller's
# environment holds. SPARK_GRAFT_CPUS is the host's core count.
GRAFT_SETTINGS = {
    "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    "SPARK_GRAFT_DRIVER_MEM": "1g",
    "SPARK_GRAFT_MIN_PARTITION_SIZE": "4m",
    "SPARK_GRAFT_PERIODIC_GC": "2min",
}
SETUP_REPEATS = 3  # input generation + load is repeated; setup_s takes the median


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    t_entry = time.perf_counter() - _process_age()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; the self-tests use a tiny scale")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ratatool_spark", "__init__.py")):
        print(f"perfbench: no ratatool_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, clear

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    clear(work)
    try:
        result = _run(args, work, t_entry)
    finally:
        clear(work)
        os.rmdir(work)
    for line in result:
        print(line, flush=True)
    return 0


def _run(args, work: str, t_entry: float) -> list[str]:
    os.makedirs(os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(GRAFT_SETTINGS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the library by name: put the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench.harness import LAYERS, Recorder, RssSampler, layer_counters, tail
    from perfbench.workloads import WORKLOADS, clear
    from ratatool_spark.session import get_spark

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap size: peak RSS then does not depend on when G1 grows it
            # (no perf-data file: the JVM would write it under /tmp)
            "spark.driver.extraJavaOptions": (
                f"-Xms{GRAFT_SETTINGS['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
            # keep every job/stage/execution of a run for the traced read-out
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
        try:
            session_s = time.perf_counter() - t0
            session_ready = time.perf_counter() - t_entry
            rec = Recorder(spark, bool(args.trace))
            wl = WORKLOADS[args.workload](spark, rec, work, args.seed, args.scale)

            prepare_s, load_s = [], []
            for r in range(SETUP_REPEATS):
                in_dir = os.path.join(work, f"inputs{r}")
                clear(in_dir)
                if r:
                    shutil.rmtree(os.path.join(work, f"inputs{r - 1}"))
                first = len(rec.spans)
                t = time.perf_counter()
                wl.prepare(in_dir)
                prepare_s.append(time.perf_counter() - t)
                load_s.append(sum(s.dur for s in rec.spans[first:] if s.layer == "sources"))
            t = time.perf_counter()
            wl.run_pass()  # warm-up: JIT, Python workers, file listing caches
            warm_s = time.perf_counter() - t
            setup_s = session_ready + _median(prepare_s) + warm_s

            wl.begin_measure()
            rec.trace_self_s = 0.0
            rss.reset()
            passes: list[tuple[float, dict]] = []
            t_measure = time.perf_counter()
            while not passes or time.perf_counter() - t_measure < args.seconds:
                rec.pass_id = len(passes) + 1
                t = time.perf_counter()
                try:
                    phases = wl.run_pass()
                except Exception as e:  # a failed call: count it, keep measuring
                    rec.fail_pass(e)
                    phases = {}
                passes.append((time.perf_counter() - t, phases))
            peak_rss = rss.peak
            attempted, failed = rec.ops(first_pass=0)

            extra = {}
            if args.trace:
                # the passes read nothing through `sources` (its frames are
                # loaded once, lazily); its counters cover the setup loads
                counters = layer_counters(spark, [
                    s for s in rec.calls(first_pass=0)
                    if s.pass_id >= 1 or s.layer == "sources"])
                # per pass (per setup load for sources), so that runs with
                # different pass counts compare
                for L, c in counters.items():
                    n = SETUP_REPEATS if L == "sources" else len(passes)
                    counters[L] = {k: v / n for k, v in c.items()}
                extra = wl.layer_extras()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.dump(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.spans.jsonl"))
        finally:
            _shutdown(spark)

    pass_s = [d for d, _ in passes]
    pipeline_s = _median(pass_s)
    lines = [f"# perfbench workload={args.workload} seed={args.seed} passes={len(passes)} "
             f"settings={json.dumps(GRAFT_SETTINGS, sort_keys=True)}"]
    if rec.failures:
        lines.append("# failures: " + json.dumps(rec.failures[:20]))

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pipeline_s": (pipeline_s, "s"),
            "rows_per_s": (wl.input_rows / pipeline_s if pipeline_s else 0.0, "1/s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
        # workload-specific end-to-end figures, printed for reading
        info = {"ops_failed_frac": (failed / max(attempted, 1), "fraction"),
                "input_rows": (wl.input_rows, "rows")}
        phase_vals: dict[str, list[float]] = {}
        for _, ph in passes:
            for k, v in ph.items():
                phase_vals.setdefault(k, []).extend(v)
        for k, v in phase_vals.items():
            info[k] = (_median(v), "s")
        if args.workload == "dedup_commits":
            spans = rec.calls(first_pass=1)
            for kind, pick in (("commit", lambda s: "read_snapshot" not in s.name),
                               ("read", lambda s: "read_snapshot" in s.name)):
                xs = [s.dur for s in spans if s.layer == "snapshots" and pick(s)]
                p, v = tail(xs)
                info[f"{kind}_p50_s"] = (_median(xs), "s")
                info[f"{kind}_tail_s"] = (v, f"s@p{p:g}/n{len(xs)}")
        lines.append("# e2e " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in
                                             {**metrics, **info}.items()}))
    else:
        metrics = {}
        for L in LAYERS:
            c = counters[L]
            for k in ("calls", "wall_s", "driver_s", "jobs", "stages", "task_s",
                      "shuffle_write_bytes", "spill_bytes"):
                unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
                metrics[f"{L}.{k}"] = (c[k], unit)
        metrics["session.start_s"] = (session_s, "s")
        metrics["sources.load_s"] = (_median(load_s), "s")
        metrics["sources.input_bytes"] = (wl.input_bytes, "bytes")
        metrics["sampler.jobs_per_call"] = (
            counters["sampler"]["jobs"] / max(counters["sampler"]["calls"], 1), "count")
        metrics["dedup.arrow_rows"] = (counters["dedup"]["arrow_rows"], "rows")
        metrics["corpus.arrow_rows"] = (counters["corpus"]["arrow_rows"], "rows")
        for k in ("dedup.candidate_pairs", "dedup.verified_pairs"):
            metrics[k] = (extra.get(k, 0), "count")
        metrics["dedup.useful_ratio"] = (extra.get("dedup.useful_ratio", 0.0), "ratio")
        for k in ("snapshots.files_added_per_commit", "snapshots.pending_deletes_at_read"):
            metrics[k] = (extra.get(k, 0.0), "count")
        for k in ("snapshots.bytes_written_per_user_byte", "snapshots.table_bytes_per_live_byte"):
            metrics[k] = (extra.get(k, 0.0), "ratio")
        released, cached = wl.cache_stats()
        metrics["cache.released"] = (released / len(passes), "count")
        metrics["cache.storage_bytes"] = (cached, "bytes")
        # The only work a traced pass adds is setting the job groups, so the
        # traced/untraced ratio is taken from that time; a separate untraced
        # pass would differ by more than the overhead on a shared host.
        traced_s = sum(pass_s)
        metrics["trace.overhead_frac"] = (
            rec.trace_self_s / max(traced_s - rec.trace_self_s, 1e-9), "fraction")

    lines.append(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return lines


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every process the
    run started (the JVM and its Python workers) to exit."""
    from perfbench.harness import descendants

    gateway = spark.sparkContext._gateway
    children = descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main())
