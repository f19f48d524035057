"""Flagship benchmark: turns/s per workload, per-module costs from a traced run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload flagship_sf0.1 --seed 1 --seconds 10 --trace 0

It starts one local Spark session on every core of the host, generates
the workload's input from the seed, runs one cold rep and then warm reps
while another one fits in ``--seconds`` (at least two), checks every rep's output
against a DuckDB oracle, writes the full report to
``.perfbench_results/`` and prints one JSON line last.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
separate traced run: a traced warm rep between two untraced ones (the
difference is the tracing overhead), the layer ladder over the
workload's input, SQL metrics from the executed plan and, on the
flagship, the OTLP wire codec over the same turns; it reports the
per-layer metrics.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "opentelemetry_collector_spark"
MIN_WARM_REPS = 2


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001 events and 4k synthetic turns (self-test)")
    return ap.parse_args(argv)


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def configure_env(work: Path, host: dict) -> dict:
    """Host fit and hygiene, set before the JVM starts: every core, a
    driver heap sized from host RAM, the checkout on the Python workers'
    path, and every temp dir inside the run's work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    heap_mb = max(1024, min(6144, host["mem_total_mb"] * 3 // 10))
    env = {
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share the
    hypervisor took from this host, recorded per rep to explain outliers."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail_percentile(samples: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; with fewer
    than eleven samples that is the maximum."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], f"p100 of {n}"
    q = 1 - 10 / n
    return s[min(n - 1, int(q * n))], f"p{100 * q:.1f} of {n}"


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.reps: list[dict] = []

    def timed_rep(self, spark, wl, kind: str, tracer=None) -> dict:
        """One rep in its own job group; its output is checked after the
        clock stops. A rep that raises or fails its check counts failed."""
        from spans import job_group_stats

        idx = len(self.reps)
        group = f"rep-{idx}"
        rep_dir = self.work / "wh" / group
        rec = {"rep": idx, "kind": kind, "ok": False, "problems": []}
        # start every rep from a collected heap on both sides of py4j
        gc.collect()
        spark._jvm.System.gc()
        spark.sparkContext.setJobGroup(group, f"{wl.name} {kind} rep")
        steal0, total0 = cpu_ticks()
        try:
            t0 = time.perf_counter()
            if tracer is None:
                res = wl.rep(spark, rep_dir)
            else:
                with tracer.installed(group), tracer.span(f"{wl.name}.rep"):
                    res = wl.rep(spark, rep_dir)
            rec["s"] = time.perf_counter() - t0
            steal1, total1 = cpu_ticks()
            rec["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
            out, problems = wl.check(res, rep_dir)
            rec.update(out_bytes=out.out_bytes, files=out.files, problems=problems,
                       ok=not problems)
        except Exception as err:  # a failed rep is counted, the run goes on
            rec["problems"] = [f"{type(err).__name__}: {err}"]
            traceback.print_exc(file=sys.stderr)
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec.update(job_group_stats(spark, group))
        self.reps.append(rec)
        shutil.rmtree(rep_dir, ignore_errors=True)
        return rec

    def run_untraced(self, spark, wl) -> dict:
        from spans import jvm_peak_rss_mb

        cold = self.timed_rep(spark, wl, "cold")
        warm: list[dict] = []
        start = time.perf_counter()
        # warm reps while another one still fits in --seconds, at least
        # MIN_WARM_REPS
        while len(warm) < MIN_WARM_REPS or (
                time.perf_counter() - start + warm[-1].get("s", 0.0) <= self.args.seconds):
            warm.append(self.timed_rep(spark, wl, "warm"))
        times = [r["s"] for r in warm if "s" in r]
        if not times or "s" not in cold:
            raise RuntimeError("no rep completed")
        tail, tail_label = tail_percentile(times)
        p50 = statistics.median(times)
        out_bytes = [r["out_bytes"] for r in warm if r["ok"]]
        return {
            "turns_per_s": (wl.turns / p50, "turns/s", len(times)),
            "rep_s_p50": (p50, "s", len(times)),
            "rep_s_tail": (tail, "s", len(times)),
            "first_rep_s": (cold["s"], "s", 1),
            "jvm_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB", 1),
            "out_bytes": (statistics.median(out_bytes) if out_bytes else 0, "bytes",
                          len(out_bytes)),
            "_tail": tail_label,
        }

    def run_traced(self, spark, wl) -> tuple[dict, dict]:
        from spans import Tracer, cached_bytes, plan_metrics
        from workloads import ladder_levels, noop_write, codec_probe

        tracer = Tracer()
        self.timed_rep(spark, wl, "cold")
        # untraced reps on both sides of the traced one bracket any drift
        before = self.timed_rep(spark, wl, "warm")
        cache_samples = [0]
        tracer.on_span_end.append(
            lambda s: cache_samples.append(cached_bytes(spark))
            if s.name == "sinks.tables.overwrite" else None
        )
        traced = self.timed_rep(spark, wl, "traced", tracer)
        tracer.on_span_end.clear()
        after = self.timed_rep(spark, wl, "warm")
        untraced_s = (before.get("s", 0) + after.get("s", 0)) / 2
        traced_group = f"rep-{traced['rep']}"
        st = tracer.self_times(traced_group)

        def span(name: str, key: str = "self_s"):
            return st.get(name, {}).get(key, 0)

        rejected = sum(s.result[1] for s in tracer.spans if s.result
                       and s.rep == traced_group and s.name == "plans.errors.partial_success")
        m = {
            "trace.overhead_s": (traced.get("s", 0) - untraced_s, "s"),
            "plans.pipeline.spark_jobs": (traced["jobs"], "count"),
            "plans.pipeline.spark_tasks": (traced["tasks"], "count"),
            "plans.pipeline.job_s": (traced["job_s"], "s"),
            "plans.pipeline.driver_s": (span(f"{wl.name}.rep"), "s"),
            "plans.pipeline.cache_bytes": (max(cache_samples), "bytes"),
            "sinks.tables.overwrite_s": (span("sinks.tables.overwrite"), "s"),
            "sinks.tables.overwrite_calls": (span("sinks.tables.overwrite", "calls"), "count"),
            "sinks.tables.files": (traced.get("files", 0), "count"),
            "plans.errors.partial_success_s": (span("plans.errors.partial_success"), "s"),
            "plans.errors.rejected_rows": (rejected, "count"),
            "plans.checkpoint.commits": (span("plans.checkpoint.commit", "calls"), "count"),
            "plans.checkpoint.commit_s": (span("plans.checkpoint.commit"), "s"),
            "plans.checkpoint.lineage_table_s": (span("plans.checkpoint.lineage_table"), "s"),
            "plans.lineage.file_lineage_s": (span("plans.lineage.file_lineage"), "s"),
        }

        # the layer ladder over this workload's input, each level to noop
        # once (the run budget has no room for a second pass)
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        level_s: dict[str, float] = {}
        for name, df in ladder_levels(wl.source(spark), spark):
            if name == "parse":
                obs = Observation("parse_ok")
                df = df.observe(obs, F.count(F.lit(1)).alias("n"),
                                F.count_if("parse_ok").alias("ok"))
            t0 = time.perf_counter()
            noop_write(df)
            level_s[name] = time.perf_counter() - t0
        parse_ok = obs.get
        m["sources.scan_s"] = (level_s["scan"], "s")
        order = list(level_s)
        for prev, name in zip(order, order[1:]):
            m[f"operators.{name}.marginal_s"] = (level_s[name] - level_s[prev], "s")
        m["operators.parse.ok_ratio"] = (parse_ok["ok"] / parse_ok["n"], "ratio")

        _, nodes = plan_metrics(spark, ladder_levels(wl.source(spark), spark)[-1][1])

        def node_sum(metric: str) -> int:
            return sum(n["metrics"].get(metric, 0) for n in nodes)

        m["operators.enrich.broadcast_joins"] = (
            sum(n["node"] == "BroadcastHashJoinExec" for n in nodes), "count")
        m["operators.aggregate.shuffle_bytes"] = (node_sum("shuffleBytesWritten"), "bytes")
        m["operators.aggregate.spill_bytes"] = (node_sum("spillSize"), "bytes")

        codec = {"encode_s": 0.0, "decode_s": 0.0, "wire_bytes_per_turn": 0.0}
        if wl.name == "flagship_sf0.1":
            with tracer.installed("codec"):
                codec, problems = codec_probe(spark, wl.source(spark), tracer)
            self.reps.append({"rep": len(self.reps), "kind": "codec", "ok": not problems,
                              "problems": problems, "s": codec["encode_s"] + codec["decode_s"]})
        m["sources.otlp_proto.encode_s"] = (codec["encode_s"], "s")
        m["sources.otlp_proto.decode_s"] = (codec["decode_s"], "s")
        m["sources.otlp_proto.wire_bytes_per_turn"] = (codec["wire_bytes_per_turn"], "bytes")

        detail = {
            "span_self_times": {rep: tracer.self_times(rep)
                                for rep in sorted({s.rep for s in tracer.spans})},
            "spans": tracer.dump(),
            "ladder_s": level_s,
            "aggregate_plan_nodes": nodes,
            "codec": codec,
        }
        return m, detail


def run(args, work: Path, host: dict, env: dict) -> dict:
    from opentelemetry_collector_spark.session import get_spark
    from workloads import WORKLOADS
    import loadgen

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    setup_s = time.perf_counter() - T0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if args.scale == "tiny":
            wl = WORKLOADS[args.workload](
                **({"events": 1_000} if args.workload.startswith("flagship")
                   else {"shape": loadgen.TranscriptShape(250, 16, 1, 200, files=2)}))
        else:
            wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        wl.prepare(spark, work, args.seed)
        prepare_s = time.perf_counter() - t0
        bench = Bench(args, work)
        if args.trace:
            metrics, detail = bench.run_traced(spark, wl)
            metrics = {k: (v, u, 1) for k, (v, u) in metrics.items()}
            tail_label = None
        else:
            metrics = bench.run_untraced(spark, wl)
            tail_label = metrics.pop("_tail")
            metrics["setup_s"] = (setup_s, "s", 1)
            detail = {}
        spark_version = spark.version
    finally:
        stop_spark(spark)
    reps = bench.reps
    failed = sum(not r["ok"] for r in reps)
    jobs = [r["jobs"] for r in reps if r["kind"] in ("warm", "traced")]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "turns": wl.turns,
        "host": {**host, "spark": spark_version, "java_tool_options": env["JAVA_TOOL_OPTIONS"],
                 "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
                 "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]},
        "git_sha": git_sha(),
        "source_digest": source_digest(),
        "setup_s": setup_s,
        "prepare_s": prepare_s,
        "wall_s": time.perf_counter() - T0,
        "rep_s_tail_is": tail_label,
        "attempted": len(reps),
        "failed": failed,
        "failed_frac": failed / len(reps),
        "spark_jobs_per_rep": [r["jobs"] for r in reps if "jobs" in r],
        "spark_jobs_repeat": len(set(jobs)) <= 1,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()},
        "reps": reps,
        **detail,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no program package at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT)]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    host = host_facts()
    try:
        env = configure_env(work, host)
        report = run(args, work, host, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    out_dir = ROOT / ".perfbench_results"
    out_dir.mkdir(exist_ok=True)
    out_file = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out_file.write_text(json.dumps(report, indent=1, default=str))
    print(f"perfbench: full report in {out_file.relative_to(ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in report["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
