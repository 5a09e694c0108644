"""Layered benchmark of the DICOM lake.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run makes its inputs from the seed,
starts Spark sized to the host, sets up, then runs the workload's closed
loop for ``--seconds`` seconds and checks every output after the timer.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones in BENCHMARK.json; with ``--trace 1`` they are the
per-layer ones, read from spans and Spark's status store. The full
record of a run, spans and failures included, goes to
``.perfbench/results/``.
"""

import time

T_START = time.perf_counter()

# ruff: noqa: E402 — the clock above starts before any import
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import traceback
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dicom_metadata_extractor_serverless_datalake_spark"


def host_env(run_dir: str) -> dict[str, str]:
    """Size Spark to this host through the variables ``session.get_spark``
    reads, and keep every temporary file of the run inside ``run_dir``: the
    shipped package zip lands in ``tempfile.gettempdir()``, so a per-run
    TMPDIR means executors can only import this checkout's code."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = next(int(line.split()[1]) // 1024 for line in fh if line.startswith("MemTotal"))
    tmp = os.path.join(run_dir, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{max(1024, min(1536, mem_mb // 4))}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts before the driver
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def calibrate() -> dict[str, float]:
    """Two short single-core loops that place this run's host: md5
    chaining (CPU) and an in-place add over 64 MB (memory bandwidth)."""
    import numpy as np

    b, n = b"calibration", 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        b = hashlib.md5(b).digest()
        n += 1
    md5 = n / (time.perf_counter() - t0)
    a = np.arange(8_000_000, dtype=np.int64)
    np.add(a, 1, out=a)
    reps = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        np.add(a, 1, out=a)
        reps += 1
    stream = reps * a.nbytes * 2 / (time.perf_counter() - t0) / 1e6
    return {"host.calib_md5_per_sec": md5, "host.calib_stream_mb_per_sec": stream}


def shipped_hash(tmp_dir: str) -> str:
    """Content hash of the package zip shipped to the executors (member
    names and bytes; zip timestamps differ between checkouts)."""
    path = os.path.join(tmp_dir, f"{PACKAGE}_pyfiles.zip")
    h = hashlib.sha256()
    with zipfile.ZipFile(path) as zf:
        for name in sorted(zf.namelist()):
            h.update(name.encode())
            h.update(zf.read(name))
    return h.hexdigest()


def reset_hwm() -> None:
    """Give this process's freed heap back to the OS, then restart its
    VmHWM from its current resident size."""
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) / 1024 for line in fh if line.startswith("VmHWM"))


def percentile(values: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(values)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Context:
    """What a workload sees: the session, the tracer, the seed, and the
    books it keeps on samples, failures and per-layer numbers."""

    def __init__(self, seed: int, run_dir: str, trace: bool) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.trace = trace
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.known: list[str] = []
        self.samples: dict[str, list[tuple[float, bool]]] = {}
        self.layer_values: dict[str, float] = {}
        self.detail: dict = {}

    def fail(self, what: str, details: list[str]) -> None:
        self.failures.append({"op": what, "error": details[:20], "count": len(details)})

    def sample(self, kind: str, value: float, traced: bool) -> None:
        self.samples.setdefault(kind, []).append((value, traced))

    def samples_of(self, kind: str, traced: bool | None = None) -> list[float]:
        return [v for v, t in self.samples.get(kind, []) if traced is None or t == traced]

    def layer(self, name: str, value: float) -> None:
        self.layer_values[name] = value


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{run_id}-{os.getpid()}")
    env = host_env(run_dir)
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    try:
        __import__(PACKAGE)
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}", file=sys.stderr)
        return 2
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key])

    from tracing import Tracer
    from workloads import WORKLOADS

    ctx = Context(args.seed, run_dir, bool(args.trace))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env, "detail": ctx.detail}
    try:
        return run(args, spec, ctx, WORKLOADS[args.workload](ctx), Tracer, record)
    finally:
        out_dir = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, spec, ctx, wl, Tracer, record) -> int:
    from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        record["host"] = calibrate()
        wl.prepare()
        os.sync()  # the inputs' write-back runs now, not under a timer
        excluded_s = time.perf_counter() - t0  # input generation and calibration are not set-up
        record["prepare_s"] = excluded_s
        reset_hwm()  # peak RSS is the program's, not that of generating its inputs

        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
                # a pinned heap keeps peak RSS from following G1's resizing
                "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            },
        )
        get_spark_s = time.perf_counter() - t0
        record["shipped_zip_sha256"] = shipped_hash(os.environ["TMPDIR"])
        ctx.spark = spark
        ctx.tracer = Tracer(spark, enabled=False)
        t0 = time.perf_counter()
        wl.register()
        register_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START - excluded_s

        # the closed loop; with tracing, cycles alternate traced and untraced
        # so the run measures its own tracing overhead
        t_window = time.perf_counter()
        i = 0
        while i < wl.min_cycles or time.perf_counter() - t_window < args.seconds:
            traced = bool(args.trace) and (i + args.seed) % 2 == 0
            ctx.tracer.enabled = traced
            try:
                wl.cycle(i, traced)
            except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                ctx.fail(f"cycle {i}", [traceback.format_exc()])
            i += 1
        ctx.tracer.enabled = False
        record["window_s"] = time.perf_counter() - t_window
        record["cycles"] = i
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        record["vm_hwm_mb"] = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")}

        wl.verify()
        queries = ctx.samples_of("op")
        record["e2e"] = {
            "setup_s": setup_s,
            "pass_s": statistics.median(ctx.samples_of("pass")),
            "query_p50_s": percentile(queries, 0.5),
            "query_p90_s": percentile(queries, 0.9),
            "peak_rss_mb": sum(record["vm_hwm_mb"].values()),
        }
        if args.trace:
            ctx.layer("session.get_spark_s", get_spark_s)
            ctx.layer("session.register_s", register_s)
            ctx.layer("session.warmup_s", warmup_s)
            wl.layers()
            for m in spec["per_layer"]:
                if m["name"].startswith(wl.unused):
                    ctx.layer_values.setdefault(m["name"], 0.0)
            traced_pass = ctx.samples_of("pass", traced=True)
            plain_pass = ctx.samples_of("pass", traced=False)
            ctx.layer("trace.overhead_s", statistics.median(traced_pass) - statistics.median(plain_pass))
            ctx.layer_values.update(record["host"])
            record["spans"] = ctx.tracer.dump()
        chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
        values = ctx.layer_values if args.trace else record["e2e"]
        missing = [m["name"] for m in chosen if m["name"] not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in chosen}
    except Exception:  # noqa: BLE001 — the run reports the error instead of dying silently
        ctx.fail("run", [traceback.format_exc()])
        record.update(attempted=ctx.attempted, failures=ctx.failures)
        print(json.dumps({"error": ctx.failures[-1]["error"][0].strip().splitlines()[-1],
                          "attempted": ctx.attempted, "failed": len(ctx.failures)}))
        return 1
    finally:
        stop(spark)

    failed = len(ctx.failures)
    record.update(
        layers=ctx.layer_values, attempted=ctx.attempted, failed=failed,
        error_rate=failed / max(ctx.attempted, 1), failures=ctx.failures, known_failures=ctx.known,
        samples=ctx.samples,
    )
    print(f"perfbench {args.workload} seed={args.seed}: {ctx.attempted} operations, {failed} failed, "
          f"{len(ctx.known)} known failures; pass_s={record['e2e']['pass_s']:.3f} setup_s={setup_s:.2f}")
    print(json.dumps({"correct": failed == 0, "attempted": ctx.attempted, "failed": failed, "metrics": metrics}))
    return 0


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
