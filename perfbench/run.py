"""KG-construction benchmark: one process, ``local[<cpus>]``, one workload.

    python3 perfbench/run.py --workload pages_kg --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The run builds the
Spark session with the package's ``get_spark`` (timed as ``setup_s``),
generates the workload's inputs from ``--seed`` (not timed), runs one cold
op, then steady ops for ``--seconds`` seconds (and at least the workload's
``min_steady``), and checks every op's output against an expectation
computed without the engine.

Every op is measured twice: wall time, and the CPU time of the whole
process tree (this process, the JVM and the Python workers). The bounded
op metrics are CPU times, taken over the same op indices in every run.
CPU time leaves out the time an op waits for a core: with four other
processes busy on the same cores, an op's wall time doubled while its CPU
time moved by at most about a fifth. Wall times are printed on standard
error and kept in the result file.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run alternates
traced and untraced steady ops and reports the per-layer metrics (see
``perfbench/README.md``). Everything else goes to standard error and to
``.bench_out/`` in the checkout, including the traced run's JSONL spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rml_utils_processor_ts_spark"
MAX_FAILED = 3  # a run stops measuring after this many failed ops


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str, trace: bool) -> None:
    """Host hygiene: run the program on its own defaults (drop inherited
    RML_* / SPARK_GRAFT_* knobs) except for the session warm-up, give
    Python workers the package on PYTHONPATH, and keep Spark's scratch
    space inside the checkout.

    The warm-up is off because it costs 35-45 s of set-up on 4 vCPUs. With
    it, the protocol's budget (4 + 22 x 2 runs in 3420 s) leaves room for
    one steady op per run, and single-op figures spread 25-36% between
    runs on this host. Without it the first op pays the JIT instead, and a
    run fits three or four steady ops."""
    for key in [k for k in os.environ if k.startswith(("RML_", "SPARK_GRAFT_"))]:
        del os.environ[key]
    os.environ["RML_SPARK_WARMUP"] = "0"  # the package's own opt-out
    if trace:
        os.environ["RML_SPARK_UI"] = "true"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # tempfile caches the first directory it picked
    sys.path[:0] = [ROOT, HERE]


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, each including its reaped children: the JVM, the
    Python worker daemon and the workers it forked."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        # fields[1] is ppid; fields[11:15] are utime, stime, cutime, cstime
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / _TICK


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def source_id() -> str:
    """The git sha when the checkout is a repository, else a digest of the
    package sources (the benchmark also runs from a plain export)."""
    try:
        if not os.path.isdir(os.path.join(ROOT, ".git")):
            raise FileNotFoundError(ROOT)
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        h = hashlib.sha256()
        for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(base, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
        return "src-sha256:" + h.hexdigest()[:16]


def host_record(spark, cpus: int) -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": cpus,
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "source": source_id(),
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


def tail_percentile(values: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least 10 samples beyond it, if any."""
    n = len(values)
    if n < 20:
        return None
    pct = 100 * (n - 10) // n
    cut = statistics.quantiles(values, n=100, method="inclusive")[pct - 1]
    return pct, cut, n


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ next to {os.path.basename(HERE)}/: run from a checkout of the repository")
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work, trace)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    import rml_utils_processor_ts_spark as pkg

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = pkg.get_spark(f"perfbench-{args.workload}", cpus=str(cpus))
    setup_s = time.perf_counter() - t0
    tracer = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        host = host_record(spark, cpus)
        log(f"host {json.dumps({k: v for k, v in host.items() if k != 'spark_conf'})}")
        t_inputs = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        log(f"set-up {setup_s:.1f} s; inputs generated in {time.perf_counter() - t_inputs:.1f} s")

        if trace:
            import spans as tracing

            tracer = tracing.Tracer(spark)
            tracing.install_layer_wrappers(tracer)

        attempted = failed = 0
        ops: list[dict] = []

        def run_op(k: int, traced: bool) -> None:
            nonlocal attempted, failed
            attempted += 1
            rec = {"k": k, "traced": traced, "ok": False}
            out = None
            try:
                c = tree_cpu_s()
                t = time.perf_counter()
                if traced:
                    with tracer.op(str(k)):
                        out = wl.op(k)
                else:
                    out = wl.op(k)
                rec["wall_s"] = time.perf_counter() - t
                rec["cpu_s"] = tree_cpu_s() - c
                if traced:
                    rec["layers"] = tracer.collect(str(k))
                rec["quads"] = wl.check(k, wl.observed(k, out))
                rec["ok"] = True
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                failed += 1
                log(f"op {k} failed:\n{traceback.format_exc()}")
            finally:
                if out is not None:
                    wl.clear(out)
            ops.append(rec)

        run_op(0, traced=trace)
        t_steady = time.perf_counter()
        k = 1
        while failed < MAX_FAILED and (
            k <= wl.min_steady
            or time.perf_counter() - t_steady < args.seconds
            or (trace and k % 2 == 0)
        ):
            # traced run: pairs of one traced and one untraced op, the
            # traced one first in every other pair
            first_in_pair = k % 2 == 1
            run_op(k, traced=trace and first_in_pair == ((k - 1) // 2 % 2 == 0))
            k += 1
        peak_rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(spark.sparkContext._gateway.proc.pid)) / 1024

        steady = [r for r in ops[1:] if r["ok"]]
        first = ops[0]
        if "wall_s" not in first or not steady or (trace and not any(r["traced"] for r in steady)):
            log("no op completed that the metrics can be taken from")
            return 1
        wall: dict[str, float] = {}
        if not trace:
            # the CPU metrics use steady ops 1..min_steady, which every run
            # makes: later ops cost less CPU as the JIT settles, so a median
            # over however many ops fit in the window would move with the
            # host's speed
            fixed = [r for r in steady if r["k"] <= wl.min_steady]
            if not fixed:
                log("no steady op completed that the metrics can be taken from")
                return 1
            metrics = {
                "setup_s": (setup_s, "s"),
                "first_op_cpu_s": (first["cpu_s"], "s"),
                "op_cpu_s_p50": (statistics.median(r["cpu_s"] for r in fixed), "s"),
                "quads_per_cpu_s": (statistics.median(r["quads"] / r["cpu_s"] for r in fixed), "quads/cpu_s"),
            }
            walls = [r["wall_s"] for r in steady]
            wall = {
                "first_op_s": first["wall_s"],
                "op_s_p50": statistics.median(walls),
                "quads_per_s": statistics.median(r["quads"] / r["wall_s"] for r in steady),
                "total_s": setup_s + first["wall_s"] + walls[0],
            }
            tail = tail_percentile(walls)
            log(
                f"{args.workload}: {len(walls)} steady ops; wall "
                + ", ".join(f"{n} {v:.4g} {'quads/s' if n == 'quads_per_s' else 's'}" for n, v in wall.items())
                + f"; peak_rss_mb {peak_rss_mb:.0f} MB; error_rate {failed}/{attempted} = "
                f"{failed / attempted:.3f}; op_s_tail "
                + (f"p{tail[0]} = {tail[1]:.3f} s over {tail[2]} ops" if tail else
                   f"n/a ({len(walls)} ops, needs 20 for 10 beyond a percentile)")
            )
        else:
            traced = [r for r in steady if r["traced"]]
            untraced = [r for r in steady if not r["traced"]]
            names = traced[0]["layers"].keys() if traced else []
            metrics = {
                name: (statistics.median(r["layers"][name] for r in traced), _unit(name))
                for name in names
            }
            quads = statistics.median(r["quads"] for r in traced)
            metrics["sinks.bytes_per_quad"] = (metrics["sinks.bytes_out"][0] / quads, "B/quad")
            metrics["session.peak_rss_mb"] = (peak_rss_mb, "MB")
            metrics["trace.overhead"] = (
                statistics.median(r["wall_s"] for r in traced)
                / statistics.median(r["wall_s"] for r in untraced),
                "ratio",
            )
            for rec in tracer.ops:
                log(
                    f"op {rec['op']}: wall {rec['wall_s']:.3f} s = "
                    + " + ".join(f"{n} {s:.3f}" for n, s in rec["self_s"].items())
                    + f" (sum {rec['self_sum_s']:.3f})"
                )
            tracer.write_jsonl(
                os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"),
                [{"kind": "run", "workload": args.workload, "seed": args.seed, "host": host,
                  "setup_s": setup_s, "ops": ops}],
            )
        report = {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()}
        with open(os.path.join(out_dir, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w", encoding="utf-8") as fh:
            json.dump({"host": host, "ops": ops, "wall": wall, "metrics": report}, fh, indent=1)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log(f"run took {time.perf_counter() - t_run:.1f} s")

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": report,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes") or name in ("sinks.bytes_out", "state.bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
