"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_curate --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates (or reuses) the seeded
inputs for the workload, runs the workload in a fresh process on
``local[<cores>]`` (``worker.py``), and prints each metric with its
unit, then one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` runs the workload once untraced and
once traced (spans plus the Spark event log) and reports the per-layer
metrics, including ``trace.overhead``.

Everything the run writes stays under ``perfbench/.work/``: the input
cache (kept across runs), span dumps (kept) and one scratch directory
per run for Spark's local dirs, temp files and event log (removed when
the run ends).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import gen
from tracing import eventlog_conf

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: Wall-clock budget of one invocation, both worker processes included.
BUDGET_S = 175.0
#: Driver JVM heap, initial and maximum.
HEAP = "1g"
NO_PERFDATA = "-XX:-UsePerfData"
#: C1 only: the default tiered JIT keeps compiling for about ten passes
#: (README.md, "JVM settings"); with C1 alone it settles in a few. C1 only
#: also shrinks the default code cache from 240 MB to 48 MB, which these
#: runs fill: near full, the JVM flushes compiled code and a pass spends
#: seconds recompiling it. The size is set back to the tiered default.
JIT = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _left_in_session(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    left = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):  # not a process, or it just ended
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            left.append(int(name))
    return left


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session and wait until all
    have ended: the worker, its JVM, and the PySpark daemon, which moves
    itself and its Python workers into a process group of its own."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 5
        sent = False
        while time.time() < deadline:
            proc.poll()  # reap the worker itself
            left = _left_in_session(proc.pid)
            if not left:
                proc.wait()
                return
            if not sent:
                for pid in left:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                sent = True
            time.sleep(0.1)
    proc.wait()


def _run_worker(args, input_dir: str, trace: bool, seconds: float, scratch: str,
                timeout: float) -> dict:
    """Run one workload process; return its result dict."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    eventlog = os.path.join(scratch, "eventlog")
    for d in (tmp, local, eventlog):
        os.makedirs(d, exist_ok=True)
    # a fixed-size heap (-Xms = -Xmx) keeps peak RSS from following the
    # collector's heap-growth decisions, which vary run to run;
    # -XX:-UsePerfData stops each JVM writing /tmp/hsperfdata_<user>
    submit = "--conf " + shlex.quote(
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{HEAP} {NO_PERFDATA} {JIT}")
    if trace:
        submit += " " + eventlog_conf(eventlog)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": NO_PERFDATA,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
        "PYTHONPATH": os.pathsep.join([ROOT, os.path.join(ROOT, "tests")]),
        "PYTHONWARNINGS": "ignore::FutureWarning",
    })
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    out = os.path.join(scratch, "result.json")
    log = os.path.join(scratch, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--input", input_dir,
        "--seed", str(args.seed), "--seconds", str(seconds),
        "--trace", str(int(trace)), "--t-spawn", repr(time.time()),
        "--eventlog", eventlog, "--out", out,
        "--spans", os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
    ]
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker exited with {code!r}")
    with open(out) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a stop request unwinds through the finally blocks, which stop the
    # worker's session and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "kafka_streams_clojure_spark", "__init__.py")):
        return _fail(f"engine package not found under {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py")):
        return _fail(f"tests/oracle_harness.py not found under {ROOT}")
    if not os.path.isfile(spec_path):
        return _fail(f"BENCHMARK.json not found under {ROOT}")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in gen.PROPS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(gen.PROPS)}")

    started = time.time()
    input_dir, _ = gen.generate(args.workload, args.seed, os.path.join(WORK, "inputs"))
    scratch = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        # a traced invocation runs two workers, each with half the
        # timed phase, so that it ends inside the same budget
        seconds = args.seconds / 2 if args.trace else args.seconds
        res = _run_worker(args, input_dir, False, seconds, os.path.join(scratch, "plain"),
                          BUDGET_S - (time.time() - started))
        if args.trace:
            traced = _run_worker(args, input_dir, True, seconds,
                                 os.path.join(scratch, "traced"),
                                 BUDGET_S - (time.time() - started))
            values = dict(traced["layers"])
            values["trace.overhead"] = (
                traced["e2e"]["rows_per_s"] / res["e2e"]["rows_per_s"]
            )
            wanted = spec["per_layer"]
            # both workers' checks count
            for k in ("errors", "attempted", "failed"):
                traced[k] += res[k]
            res = traced
        else:
            values = res["e2e"]
            wanted = spec["end_to_end"]
    except RuntimeError as e:
        return _fail(str(e))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for err in res["errors"]:
        print(f"MISMATCH {err}")
    print(f"references (s):         {res['ref_s']:.3f}")
    print(f"get_spark (s):          {res['layers']['session.get_spark_s']:.3f}")
    print(f"warm-up passes (s):     {[round(x, 3) for x in res['warmup_s']]}")
    print(f"timed passes (s):       {[round(x, 3) for x in res['passes_s']]}")
    print(f"timed passes' CPU (s):  {[round(x, 2) for x in res['passes_cpu_s']]}")
    print(f"JIT per pass (ms):      {[round(x) for x in res['passes_jit_ms']]}")
    if res["spans"]:
        print(f"{'span (timed phase + standalone calls)':40s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s}")
        for name, t in sorted(res["spans"].items()):
            print(f"{name:40s} {t['n']:>6d} {t['total_s']:>9.3f} {t['self_s']:>9.3f}")
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({
        "correct": not res["errors"] and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
