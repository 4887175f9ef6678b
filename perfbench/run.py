"""Fan-out benchmark: one-scan N-branch jobs, from the call to every
``_SUCCESS``.

    python3 perfbench/run.py --workload fanout8_native --seed 1 --seconds 5 --trace 0

Run from the repository root (the package is imported from the current
directory). Each run is a fresh process with three phases: session
set-up, one cold job, then warm jobs back to back (closed loop, one
client), timed until at least three have run and ``--seconds`` have
passed. Every job's branch outputs are checked against a DuckDB oracle
outside the timed region. The last stdout line is one JSON object;
with ``--trace 0`` its metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones from Spark's event log.

Job cost is reported in CPU seconds of the whole process tree, net of
the JVM's JIT compiler threads. Wall times are printed on the summary
line beside them: on a shared host they follow the neighbours' load
far more than CPU time does.

Everything the run writes stays under ``.perfbench/`` in the current
directory: generated inputs (cached by seed and size), job outputs,
event logs, Spark's local dirs and temp files.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

# the package under test lives in the directory the run starts from
sys.path[:0] = [str(Path(__file__).resolve().parent), str(Path.cwd())]

import gen  # noqa: E402
import tracing as tr  # noqa: E402
from jobs import WORKLOADS, Outcome  # noqa: E402

PACKAGE = "hadoop_multiple_streaming_spark"
#: set-ups per run: this process's own plus probes in fresh processes
N_SETUPS = 3
#: timed jobs, the ones after the cold job. The JVM's JIT keeps making
#: fan-out jobs cheaper for a dozen jobs, so they are counted, not
#: clocked: every run measures the same jobs of that curve, however
#: fast the host is
MIN_TIMED = 3
#: fixed, pre-touched heap: the process tree's peak RSS then does not
#: follow the JVM's elastic heap sizing, which varies by a quarter from
#: run to run (the package default heap is half of physical memory)
DRIVER_MEMORY = "2g"
#: keep every JIT compiler thread alive for the whole run: a compiler
#: thread that exits takes its CPU time out of the per-thread sum that
#: job CPU is net of, while the process total keeps it
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not args.setup_probe and args.workload is None:
        p.error("--workload is required")
    return args


def work_dir() -> Path:
    return Path.cwd() / ".perfbench"


def confine_env(tmp: Path) -> dict[str, str]:
    """Point every temp and scratch dir at ``tmp`` and fix the core
    count; returns the session conf that keeps the JVM there too."""
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = None
    return {"spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}"}


def start_session(tracer: tr.Tracer, extra_conf: dict[str, str]):
    from hadoop_multiple_streaming_spark import session

    with tracer.wrap(session, "ensure_package_shipped", "session.ship"):
        with tracer.span("session.get_spark"):
            return session.get_spark(extra_conf=extra_conf)


def stop_session(spark) -> None:
    """Stop Spark and the JVM behind it, and wait for the JVM to exit
    (its Python daemon and workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def report_setup() -> int:
    """Process start to a session with the package shipped, in this
    fresh process; prints {"setup_s": ...}."""
    tmp = work_dir() / "runs" / f"probe-{os.getpid()}"
    conf = confine_env(tmp)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            spark = start_session(tr.Tracer(), conf)
            age = tr.process_age()
            stop_session(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"setup_s": age}))
    return 0


def setup_in_fresh_process() -> float:
    """Run ``--setup-probe`` in its own process group, so that a probe
    that hangs is killed together with its JVM."""
    proc = subprocess.Popen(
        [sys.executable, str(Path(__file__).resolve()), "--setup-probe"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"set-up probe exited with code {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])["setup_s"]


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label; with fewer than eleven samples, the maximum."""
    n = len(values)
    if n < 11:
        return max(values), f"max of n={n}"
    p = 100 * (n - 10) / n
    q = statistics.quantiles(values, n=100, method="inclusive")
    return q[max(int(p) - 1, 0)], f"p{int(p)} of n={n}"


def verify(wl, inp, outcome: Outcome, out: Path, expect) -> list[str]:
    """Failed or oracle-mismatched branches of one job."""
    bad = [k for k, ok in outcome.branches.items() if not ok]
    bad += [k for k in wl.check(out, expect) if k not in bad]
    err = wl.check_counters(inp, outcome)
    if err and not bad:
        bad.append("counters")
        outcome.errors["counters"] = err
    return bad


def layer_metrics(tracer, log, cold: Outcome, warm: list[Outcome], cores: int,
                  rows: int) -> dict[str, float]:
    """Per-layer metrics: set-up spans, then the median over the timed
    warm jobs of each job's layers; Python worker start and init also
    from the cold job, where they are paid."""

    def span(name):
        return next(s.seconds for s in tracer.spans if s.name == name)

    per_rep = []
    for o in [cold, *warm]:
        run_t0 = min((s.t0 for s in tracer.within("runner.run_job", o.t0, o.t1)), default=o.t0)
        m = tr.rep_layers(log, o.t0, o.t1, cores, rows, run_t0)
        m["cli.parse_s"] = sum(s.seconds for s in tracer.within("cli.parse_job", o.t0, o.t1))
        m["pipe.records_written"] = o.counters.get("pipe.records_written", 0)
        m["pipe.records_read"] = o.counters.get("pipe.records_read", 0)
        per_rep.append(m)
    out = {
        "session.get_spark_s": span("session.get_spark") - span("session.ship"),
        "session.ship_s": span("session.ship"),
    }
    for k in per_rep[0]:
        out[k] = statistics.median(m[k] for m in per_rep[1:])
    out["pipe.cold_py_start_s"] = per_rep[0]["pipe.py_start_s"]
    out["pipe.cold_py_init_s"] = per_rep[0]["pipe.py_init_s"]
    out["trace.job_p50_s"] = statistics.median(o.seconds for o in warm)
    return out


UNITS = {"peak_rss_mb": "MB", "exec.busy_ratio": "ratio",
         "runner.branch_skew": "ratio", "share.scan_amplification": "ratio"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    return "bytes" if "bytes" in name else "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.setup_probe:
        return report_setup()
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"error: package {PACKAGE!r} not importable from {Path.cwd()}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = work_dir()
    run_dir = work / "runs" / f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    conf = confine_env(run_dir / "tmp")

    # generation and oracle expectations: cached by (seed, size), not
    # part of set-up
    g0 = time.time()
    inp = gen.generate(work / "inputs", args.seed, wl.rows)
    expect = wl.expectations(inp)
    gen_s = time.time() - g0

    tracer = tr.Tracer()
    if args.trace:
        (run_dir / "eventlog").mkdir()
        conf.update(tr.event_log_conf(run_dir / "eventlog"))
    reps: list[Outcome] = []
    # per job: CPU seconds of the process tree net of JIT compilation,
    # and the JIT compiler threads' own
    cpu: list[float] = []
    jit: list[float] = []
    attempted = failed = 0
    errors: list[str] = []
    peak_mb = 0.0
    with contextlib.redirect_stdout(sys.stderr):
        spark = start_session(tracer, conf)
        setups = [tr.process_age() - gen_s]
        try:
            first_timed, timed_t0 = 1, None
            while True:
                out = run_dir / f"out{len(reps)}"
                c0, j0 = tr.tree_cpu_s()
                outcome = wl.run(spark, inp, out, tracer)
                c1, j1 = tr.tree_cpu_s()
                jit.append(j1 - j0)
                cpu.append(c1 - c0 - jit[-1])
                print(f"[perfbench] job {len(reps)}: {outcome.seconds:.3f} s wall, "
                      f"{cpu[-1]:.2f} s cpu, {jit[-1]:.2f} s jit", file=sys.stderr)
                peak_mb = max(peak_mb, tr.tree_hwm_mb())
                bad = verify(wl, inp, outcome, out, expect)
                attempted += len(outcome.branches)
                failed += len(bad)
                errors += [f"job {len(reps)} {k}: {outcome.errors.get(k, 'oracle mismatch')}" for k in bad]
                shutil.rmtree(out, ignore_errors=True)
                reps.append(outcome)
                now = time.monotonic()
                if len(reps) == first_timed:
                    timed_t0 = now
                elif len(reps) - first_timed >= MIN_TIMED and now - timed_t0 >= args.seconds:
                    break
        finally:
            stop_session(spark)
        p0 = time.time()
        for _ in range(N_SETUPS - 1):
            setups.append(setup_in_fresh_process())
    print(f"[perfbench] input generation {gen_s:.1f} s, set-up probes {time.time() - p0:.1f} s",
          file=sys.stderr)

    cold = reps[0].seconds
    warm = [o.seconds for o in reps[first_timed:]]
    p50 = statistics.median(warm)
    cpu_p50 = statistics.median(cpu[first_timed:])
    tail_s, tail_label = tail(warm)
    setup_s = statistics.median(setups)
    for e in errors[:20]:
        print(f"[perfbench] FAILED {e}", file=sys.stderr)
    untraced = work / f"untraced-p50-{wl.name}.json"
    if args.trace:
        log = tr.read_event_log(tr.find_event_log(run_dir / "eventlog"))
        metrics = layer_metrics(tracer, log, reps[0], reps[first_timed:],
                                len(os.sched_getaffinity(0)), inp.rows)
        metrics["jvm.jit_cpu_s"] = statistics.median(jit[first_timed:])
        metrics["jvm.cold_jit_cpu_s"] = jit[0]
        (run_dir / "layers.json").write_text(json.dumps(metrics, indent=1, sort_keys=True))
        overhead = ""
        if untraced.exists():
            base = json.loads(untraced.read_text())["job_p50_s"]
            overhead = f" tracing overhead on job_p50_s: {p50 - base:+.4f} s (untraced {base:.4f} s)"
        summary = f"{wl.name} traced: job_p50_s={p50:.4f} s over {len(warm)} warm jobs;{overhead}"
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_job_cpu_s": cpu[0],
            "job_cpu_s": cpu_p50,
            "peak_rss_mb": peak_mb,
        }
        untraced.write_text(json.dumps({"job_p50_s": p50}))
        summary = (
            f"{wl.name} (input {inp.mb:.2f} MB, {inp.rows} rows, seed {args.seed}): "
            f"setup_s={setup_s:.3f} s cold_job_s={cold:.3f} s job_p50_s={p50:.4f} s "
            f"job_tail_s={tail_s:.4f} s ({tail_label}) input_mb_per_s={inp.mb / p50:.2f} MB/s "
            f"cold_job_cpu_s={cpu[0]:.3f} s job_cpu_s={cpu_p50:.3f} s "
            f"peak_rss_mb={peak_mb:.1f} MB fail_ratio={failed / attempted:.4f} ratio "
            f"({failed}/{attempted} branches)"
        )
    tracer.dump(run_dir / "spans.json")
    for d in ("eventlog", "tmp"):
        shutil.rmtree(run_dir / d, ignore_errors=True)
    print(summary)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
