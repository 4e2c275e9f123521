"""Job-path benchmark: docs/s and per-commit cost of the batch, crawl
and stream-commit job modes, with a traced per-layer breakdown.

    python3 perfbench/run.py --workload crawl_hygiene --seed 1 --seconds 20 --trace 0

`--workload` takes one name, a comma-separated list, or `all`. Each
workload sets up once (session, seeded fixture, untimed warm-up
operation) and reports the time from process start to ready as
setup_s (a later workload of the same invocation: from the end of the
one before), then runs its operation in a closed loop with one client
for `--seconds`, checking every operation's committed output against
a reference. With `--trace 0` it prints the end-to-end metrics; with
`--trace 1` it alternates untraced and traced operations and prints
the per-layer metrics. Every metric is printed as `name value unit`
with its sample count and quartiles, then the last line of stdout is
one JSON object: correct, attempted, failed, metrics. The spans and
every sample go to the report file (`.perfbench_out/` by default).
Fixtures, outputs and Spark's scratch space live in a temp dir under
`.perfbench_tmp/` that is removed on exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# Spark task slots. Each task of a Python UDF keeps a JVM thread and a
# Python worker busy, and the JIT compiler takes about a core of its
# own while the JVM warms up, so on a 4-vCPU host two slots keep the
# busy threads near nproc; local[4] ran 25-35% slower, with more CPU
# per document and a wider run-to-run spread.
CORES = 2


def _process_start_s() -> float:
    """Seconds since this interpreter started (from /proc), so setup_s
    includes interpreter start-up and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _spec_metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of each `kind` metric BENCHMARK.json names: the
    report prints exactly those."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def _summary(values: list[float]) -> dict:
    vs = sorted(values)
    q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
    return {"value": statistics.median(vs), "n": len(vs), "q1": q1, "q3": q3}


def _configure_env(tmp: str) -> None:
    """Everything Spark, its JVMs (spark-submit's launcher too) and its
    Python workers write goes under `tmp`; the workers find the package
    through PYTHONPATH."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts) if p)


def _start_session(tmp: str):
    from fineweb_modal_spark import session

    spark = session.get_spark(
        master=f"local[{CORES}]",
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM is torn down below either way
        pass
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _corrupt(out_dir: str, how: str) -> None:
    """Self-test hook: drop or alter one committed row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import corpus

    for path in corpus.committed_files(out_dir):
        t = pq.read_table(path)
        if t.num_rows == 0:
            continue
        if how == "drop":
            t = t.slice(1)
        else:
            col = t.schema.get_field_index("scrubbed_text")
            txt = t.column(col).to_pylist()
            txt[0] = (txt[0] or "") + " altered"
            t = t.set_column(col, "scrubbed_text", pa.array(txt, t.schema.field(col).type))
        pq.write_table(t, path)
        return
    raise RuntimeError(f"no committed row to {how} under {out_dir}")


class Bench:
    """One workload's set-up, timed loop and report."""

    def __init__(self, wl, args, tmp: str, tracer, log):
        self.wl, self.args, self.tmp, self.tracer, self.log = wl, args, tmp, tracer, log
        self.samples: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def setup(self, t0: float):
        """One set-up, timed from `t0` (a monotonic time: process start
        for the invocation's first workload) to ready: imports, the
        JVM and session (`session.get_spark`), the seeded fixture, and
        one untimed warm-up operation on it, which is also the
        reference run of a workload checked against itself. The DuckDB
        oracle of the other workloads runs beside it, unless cached."""
        from concurrent.futures import ThreadPoolExecutor

        from perfbench import corpus

        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = None
            if self.wl.uses_oracle:
                oracle = pool.submit(
                    corpus.oracle_digest,
                    self.wl.shape.docs(),
                    os.path.join(self.tmp, "oracle"),
                    os.path.join(OUT_DIR, "cache"),
                )
            ts = time.monotonic()
            spark = _start_session(self.tmp)
            self.add("session.start_s", time.monotonic() - ts)
            fx = self.wl.materialize(self.wl.shape, self.args.seed, os.path.join(self.tmp, "fixture"))
            tw = time.monotonic()
            ref_dir = os.path.join(self.tmp, "reference")
            res = self.wl.warm_up(spark, fx, ref_dir)
            self.add("session.warmup_s", time.monotonic() - tw)
            if oracle is None:
                self.wl.reference(os.path.join(ref_dir, "out"), res, None)
            else:
                self.wl.reference(None, None, oracle.result())
            shutil.rmtree(ref_dir)
        self.add("setup_s", time.monotonic() - t0)
        self.log(f"# {self.wl.name}: reference digest (rows, kept, hash) {self.wl.expected}")
        return spark, fx

    def op(self, spark, fx, i: int, traced: bool, jobs=None):
        """One operation: run, check, record; its output is removed."""
        from perfbench import probes

        op_dir = os.path.join(self.tmp, f"op-{i}")
        units = len(fx.deltas) if hasattr(fx, "deltas") else 1
        self.attempted += units
        c0 = probes.cpu_s()
        try:
            if traced:
                res = self.wl.run_traced(spark, fx, op_dir, self.tracer)
            else:
                with self.tracer.span("op", traced=0):
                    res = self.wl.run(spark, fx, op_dir)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.failed += units
            self.problems.append(f"op {i}: {type(e).__name__}: {e}")
            shutil.rmtree(op_dir, ignore_errors=True)
            return None
        cpu = probes.cpu_s() - c0
        spark_counts = jobs.take() if jobs is not None else {}
        out_dir = os.path.join(op_dir, "out")
        if self.args.corrupt != "none":
            _corrupt(out_dir, self.args.corrupt)
        problem = self.wl.check(out_dir, res)
        if problem:
            self.failed += units
            self.problems.append(f"op {i}: {problem}")
        elif traced:
            self.add("traced_wall_s", res.wall_s)
            for k, v in res.layers.items():
                self.add(k, v)
        else:
            from perfbench import corpus

            if res.commit_docs:  # stream: one sample per delta
                for docs, secs, c in zip(res.commit_docs, res.commits, res.commit_cpu_s):
                    self.add("docs_per_s", docs / secs)
                    self.add("cpu_s_per_kdoc", c / (docs / 1000))
            else:
                self.add("docs_per_s", res.docs / res.wall_s)
                self.add("cpu_s_per_kdoc", cpu / (res.docs / 1000))
            self.add("out_bytes_per_doc", corpus.dir_bytes(out_dir)[1] / res.docs)
            self.add("op_wall_s", res.wall_s)
            for c in res.commits:
                self.add("commit_s", c)
            for k, v in spark_counts.items():
                self.add(f"spark.{k}", v)
        shutil.rmtree(op_dir, ignore_errors=True)
        return res

    def loop(self, spark, fx, seconds: float, trace: bool) -> None:
        from perfbench import probes

        jobs = probes.JobCounter(spark) if trace else None
        with probes.RssSampler() as rss:
            rss.take_peak()
            t_end = time.monotonic() + seconds
            i = 0
            # a traced invocation needs one untraced and one traced operation
            while i < (2 if trace else 1) or time.monotonic() < t_end:
                self.op(spark, fx, i, traced=trace and i % 2 == 1, jobs=jobs)
                i += 1
            self.add("peak_rss_mb", rss.take_peak() / 1e6)

    def metrics(self, trace: bool) -> dict:
        s = self.samples
        out = {}
        if not trace:
            derived = {
                "docs_per_s": s.get("docs_per_s"),
                "commit_s_p50": s.get("commit_s"),
                "cpu_s_per_kdoc": s.get("cpu_s_per_kdoc"),
                "peak_rss_mb": s.get("peak_rss_mb"),
                "out_bytes_per_doc": s.get("out_bytes_per_doc"),
                "setup_s": s.get("setup_s"),
            }
            for name, unit in _spec_metrics("end_to_end"):
                vals = derived[name]
                out[name] = dict(_summary(vals), unit=unit) if vals else None
            return out
        wall = statistics.median(s["op_wall_s"]) if s.get("op_wall_s") else None
        for name, unit in _spec_metrics("per_layer"):
            vals = s.get(name)
            if name == "trace.overhead_ratio" and wall and s.get("traced_wall_s"):
                vals = [v / wall for v in s["traced_wall_s"]]
            elif name == "trace.self_sum_ratio" and wall and s.get("trace.self_sum_s"):
                vals = [v / wall for v in s["trace.self_sum_s"]]
            # a layer this workload's job path never calls reads 0
            out[name] = dict(_summary(vals), unit=unit) if vals else {"value": 0.0, "n": 0, "q1": 0.0, "q3": 0.0, "unit": unit}
        return out


def run_workload(name: str, args, tmp: str, tracer, t0: float, log) -> tuple[Bench, dict]:
    from perfbench import workloads

    wl = workloads.WORKLOADS[name](workloads.SIZES[args.size][name])
    b = Bench(wl, args, tmp, tracer, log)
    spark, fx = b.setup(t0)
    b.loop(spark, fx, args.seconds, bool(args.trace))
    return b, b.metrics(bool(args.trace))


def main(argv: list[str] | None = None) -> int:
    t_process = time.monotonic() - _process_start_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="batch_pipeline, crawl_hygiene, stream_commit, a comma list, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--report", default=None, help="report file (default .perfbench_out/<workload>-s<seed>-t<trace>.json)")
    ap.add_argument("--corrupt", choices=("none", "drop", "alter"), default="none",
                    help="self-test: drop or alter one committed row before each check")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("fineweb_modal_spark") is None or not os.path.exists(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: the fineweb_modal_spark package is not in {ROOT}", file=sys.stderr)
        return 2
    from perfbench import probes, workloads
    from perfbench.trace import Tracer

    names = list(workloads.WORKLOADS) if args.workload == "all" else args.workload.split(",")
    unknown = [n for n in names if n not in workloads.WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload(s) {unknown}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    _configure_env(tmp)
    log = lambda msg: print(msg, flush=True)  # noqa: E731
    stamp = probes.host_stamp(CORES)
    tracer = Tracer(run_id=f"{'-'.join(names)}-s{args.seed}-t{args.trace}-{stamp['utc']}")
    results = {}
    try:
        for i, name in enumerate(names):
            t0 = t_process if i == 0 else time.monotonic()
            results[name] = run_workload(name, args, tmp, tracer, t0, log)
    finally:
        _stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    attempted = sum(b.attempted for b, _ in results.values())
    failed = sum(b.failed for b, _ in results.values())
    log(f"# host: nproc={stamp['nproc']} spark=local[{CORES}] cpu={stamp['cpu_model']!r} utc={stamp['utc']}")
    flat = {}
    for name, (b, metrics) in results.items():
        log(f"# {name} (seed {args.seed}, trace {args.trace}): attempted {b.attempted}, failed {b.failed}, "
            f"failed_ratio {b.failed / max(b.attempted, 1):.3f}")
        for p in b.problems:
            log(f"#   FAILED {p}")
        for m, v in metrics.items():
            if v is None:
                log(f"{name}.{m} missing (no passing operation)")
                continue
            log(f"{name}.{m} {v['value']:.6g} {v['unit']}  (n={v['n']}, q1={v['q1']:.6g}, q3={v['q3']:.6g})")
            key = m if len(results) == 1 else f"{name}.{m}"
            flat[key] = {"value": v["value"], "unit": v["unit"]}

    report = args.report or os.path.join(OUT_DIR, f"{'-'.join(names)}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(report)), exist_ok=True)
    with open(report, "w") as f:
        json.dump(
            {
                "host": stamp,
                "args": vars(args),
                "workloads": {
                    n: {"attempted": b.attempted, "failed": b.failed, "problems": b.problems,
                        "metrics": m, "samples": b.samples}
                    for n, (b, m) in results.items()
                },
                "spans": tracer.to_json(),
            },
            f,
            indent=1,
        )
    log(f"# report: {report}")
    complete = all(v is not None for _, m in results.values() for v in m.values())
    print(json.dumps({
        "correct": failed == 0 and attempted > 0 and complete,
        "attempted": attempted,
        "failed": failed,
        "metrics": flat,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
