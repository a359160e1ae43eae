"""One benchmark run, in a fresh process: set up, warm up, time.

Started by ``run.py`` with the generated input directory; writes one
JSON result file. Phases:

1. references: the expected outputs, computed with DuckDB from the
   input files before the Spark session starts. Not part of any metric.
2. set-up (``setup_s``): process start, ``session.get_spark``, then
   warm-up passes of the timed shape until the pass time stops falling
   (``WARMUP_MIN`` to ``WARMUP_MAX`` passes). The pass that shows it
   has stopped falling, by being less than ``FALL`` faster than the one
   before, is already a steady pass: it is the first timed pass.
3. timed phase: whole passes until ``--seconds`` have elapsed, at least
   ``MIN_TIMED`` of them.
4. traced runs only: standalone operator calls and the Spark event
   log, parsed after the session stops.

Every pass, warm-up included, collects its outputs and checks them
against the references; a pass that raises or mismatches is a miss.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import duckdb
from pyspark.sql import functions as F

from kafka_streams_clojure_spark import session, streaming
from kafka_streams_clojure_spark.operators import dedup, joins, text
from kafka_streams_clojure_spark.queries import oracle_sql, queries
from kafka_streams_clojure_spark.streaming import stateful
from oracle_harness import compare

import probes
from tracing import Tracer, spark_layer

#: Warm-up runs at least this many passes, the cold first pass included:
#: a single slow pass must not end it while compiling is still going on.
#: On a slow stretch of a shared host the compiler threads are slow too:
#: after only three passes the next ones can still fall by 8% each.
WARMUP_MIN = 4
#: Then it ends before a pass that is less than this share faster than
#: the pass before it ...
FALL = 0.05
#: ... or after this many passes.
WARMUP_MAX = 6
#: The timed phase runs at least this many passes.
MIN_TIMED = 3


class _Collected:
    """An already collected pandas frame, handed to
    ``oracle_harness.compare`` in place of a Spark DataFrame (``toPandas``)
    or a DuckDB relation (``df``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf

    def df(self):
        return self.pdf


def _noop(df, tracer: Tracer, name: str) -> None:
    with tracer.span(name):
        df.write.format("noop").mode("overwrite").save()


def _md5_bucket():
    """Same split as the curation key: md5(doc_id) bucket in [0, 100)."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )


class LlmCurate:
    """A pass runs ``q_llm_curation``, collected and checked against its
    oracle. ``q_llm_near_dup`` runs only among the traced run's
    standalone calls (README.md, "Budget")."""

    keys = ("q_llm_curation",)

    def __init__(self, input_dir: str, manifest: dict):
        self.dir = input_dir
        self.dup_pairs = {tuple(p) for p in manifest["dup_pairs"]}
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{input_dir}/documents.parquet')")
            self.ref = con.sql(oracle_sql()["q_llm_curation"]).df()
        finally:
            con.close()

    def attach(self, spark, tracer: Tracer, jvm: probes.Jvm) -> None:
        self.spark, self.tracer, self.jvm = spark, tracer, jvm
        self.qs = queries()

    def _run_key(self, key: str):
        with self.tracer.span(f"queries.{key}"):
            with self.tracer.span("queries.build"):
                df = self.qs[key](self.spark, self.dir)
            with self.tracer.span("queries.exec"):
                return df.toPandas()

    def run_pass(self) -> dict:
        t = time.perf_counter()
        out = self._run_key("q_llm_curation")
        rec: dict = {"keys": {"q_llm_curation": time.perf_counter() - t}, "errors": []}
        try:
            compare(_Collected(out), _Collected(self.ref), "q_llm_curation")
        except AssertionError as e:
            rec["errors"].append(str(e))
        if self.tracer.enabled:
            rec["rdds_left"], rec["persisted_mb"] = self.jvm.persisted()
        session.clear_caches(self.spark)
        return rec

    def standalone(self) -> tuple[list[str], dict[str, float]]:
        """Standalone operator calls, and ``q_llm_near_dup`` (rows-only:
        it has no oracle, so it must find every planted exact-duplicate
        pair, with the same row count on two calls). Returns the check's
        errors and the second call's time."""
        errors = []
        found = []
        for _ in range(2):
            t = time.perf_counter()
            out = self._run_key("q_llm_near_dup")
            near_dup_s = time.perf_counter() - t
            session.clear_caches(self.spark)
            found.append(set(zip(out["id_a"].tolist(), out["id_b"].tolist())))
        missing = sorted(self.dup_pairs - found[-1])
        if missing:
            errors.append(f"q_llm_near_dup: {len(missing)} planted duplicate pairs "
                          f"not found, e.g. {missing[:3]}")
        if len(found[0]) != len(found[1]):
            errors.append(f"q_llm_near_dup: {len(found[0])} then {len(found[1])} pairs")
        docs = session.load_table(self.spark, self.dir, "documents")
        base = docs.select("doc_id", "text", _md5_bucket().alias("bucket"))
        calls = {
            "operators.dedup.exact_dedup": lambda: dedup.exact_dedup(docs),
            "operators.text.repetition_stats": lambda: text.repetition_stats(docs),
            "operators.dedup.decontaminate": lambda: dedup.decontaminate(
                base.filter("bucket >= 5"), base.filter("bucket < 5")),
            "operators.dedup.minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
                docs, n_hashes=32, bands=8, threshold=0.5),
        }
        for name, build in calls.items():
            with self.tracer.span(name):
                _noop(build(), self.tracer, "sink")
            session.clear_caches(self.spark)
        return errors, {"queries.q_llm_near_dup_s": near_dup_s}


class StreamState:
    """A pass drains the whole backlog (one file per micro-batch) through
    ``stateful.running_counter`` into the upsert store, then collects the
    compacted store and checks it."""

    keys = ()

    def __init__(self, input_dir: str, manifest: dict):
        self.dir = input_dir
        self.src = os.path.join(input_dir, "events.parquet")
        self.ref = duckdb.sql(
            "SELECT user_id AS key, count(*) AS n, sum(value) AS total "
            f"FROM read_parquet('{self.src}/*.parquet') GROUP BY user_id"
        ).df().set_index("key").sort_index()

    def attach(self, spark, tracer: Tracer, jvm: probes.Jvm) -> None:
        self.spark, self.tracer, self.jvm = spark, tracer, jvm
        self.schema = spark.read.parquet(self.src).schema
        self.listener = probes.ProgressLog()
        spark.streams.addListener(self.listener)
        self.queries_run = 0

    def _drain(self):
        """Run the stream over the backlog; return the store reader and
        the micro-batches' progress records."""
        with self.tracer.span("streaming.open"):
            stream = (
                self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.src)
            )
            stream = session.normalize_event_time(stream, ["ts"])
        with self.tracer.span("streaming.stateful.running_counter"):
            counts = stateful.running_counter(stream)
        before = self.listener.run_ids()
        with self.tracer.span("streaming.run_available_now"):
            store = streaming.run_available_now(counts, output_mode="update",
                                                upsert_keys=["key"])
        self.queries_run += 1
        self.listener.wait_terminated(self.queries_run)
        return store, self.listener.batches_of(self.listener.run_ids() - before)

    def _check(self, out) -> list[str]:
        """Compacted (n, total) per user against DuckDB over the same files.
        ``n`` must match exactly; ``total`` is a float sum whose order
        differs between engines, so it gets a relative 1e-9."""
        got = out.set_index("key").sort_index()
        ref = self.ref
        if list(got.index) != list(ref.index):
            return [f"stream_state: keys differ ({len(got)} vs {len(ref)})"]
        if not (got["n"].to_numpy() == ref["n"].to_numpy()).all():
            return ["stream_state: per-user counts differ"]
        rel = ((got["total"] - ref["total"]).abs() / ref["total"].abs()).max()
        if rel > 1e-9:
            return [f"stream_state: per-user totals differ (rel {rel:.3g})"]
        return []

    def run_pass(self) -> dict:
        t = time.perf_counter()
        store, batches = self._drain()
        t_store = time.perf_counter()
        with self.tracer.span("streaming.store_read"):
            out = store.toPandas()
        done = time.perf_counter()
        rec = {"errors": self._check(out), "batches": batches,
               "run_s": t_store - t, "store_read_s": done - t_store}
        if self.tracer.enabled:
            rec["rdds_left"], rec["persisted_mb"] = self.jvm.persisted()
        streaming.clear_stores()
        session.clear_caches(self.spark)
        return rec

    def standalone(self) -> tuple[list[str], dict[str, float]]:
        """``operators.joins.asof_join`` alone, over the backlog read as
        the ``events`` table: purchases against the latest click of the
        same user, to the noop sink."""
        ev = session.load_table(self.spark, self.dir, "events")
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts")
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("click_id"))
        )
        with self.tracer.span("operators.joins.asof_join"):
            out = joins.asof_join(purchases, clicks, on="user_id", left_ts="ts",
                                  right_ts="ts", right_cols=["click_id"])
            _noop(out, self.tracer, "sink")
        session.clear_caches(self.spark)
        return [], {}


WORKLOADS = {"llm_curate": LlmCurate, "stream_state": StreamState}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _tail(xs: list[float]) -> float:
    """The highest percentile with at least 10 samples beyond it."""
    xs = sorted(xs)
    if len(xs) <= 10:
        return xs[-1] if xs else 0.0
    return xs[len(xs) - 11]


def _stream_layer(passes: list[dict]) -> dict[str, float]:
    batches = [b for p in passes for b in p.get("batches", [])]
    if not batches:
        return {}

    def phase(name):
        return _med(b["duration_ms"].get(name, 0) for b in batches)

    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    state = [b["state"][0] for b in batches if b["state"]]
    return {
        "streaming.batches": len(batches) / len(passes),
        "streaming.input_rows": sum(b["input_rows"] for b in batches) / len(passes),
        "streaming.trigger_p50_ms": _med(trig),
        "streaming.trigger_tail_ms": _tail(trig),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.latest_offset_ms": phase("latestOffset"),
        "streaming.get_batch_ms": phase("getBatch"),
        "streaming.state_rows": max((s["rows"] for s in state), default=0),
        "streaming.state_memory_mb": max((s["memory_bytes"] for s in state), default=0) / 2**20,
        "streaming.state_commit_ms": _med(s["commit_ms"] for s in state),
        "streaming.run_available_now_s": _med(p["run_s"] for p in passes),
        "streaming.store_read_s": _med(p["store_read_s"] for p in passes),
    }


def _pass(wl, jvm: probes.Jvm) -> dict:
    """One pass with its wall time and the CPU, JIT and GC time it used."""
    cpu0, jit0, gc0 = probes.cpu_by_role(), jvm.jit_ms(), jvm.gc_ms()
    t = time.perf_counter()
    try:
        rec = wl.run_pass()
    except Exception as e:  # a failing pass is a miss, the run goes on
        traceback.print_exc()
        rec = {"errors": [f"pass raised {e!r}"]}
    rec["wall_s"] = time.perf_counter() - t
    cpu1 = probes.cpu_by_role()
    rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    rec["jit_ms"] = jvm.jit_ms() - jit0
    rec["gc_ms"] = jvm.gc_ms() - gc0
    return rec


def run(args) -> dict:
    tracer = Tracer(bool(args.trace), f"{args.workload}-s{args.seed}")
    with open(os.path.join(args.input, "manifest.json")) as f:
        manifest = json.load(f)
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](args.input, manifest)
    ref_s = time.perf_counter() - t

    with tracer.span("session.get_spark"):
        spark = session.get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.time() - args.t_spawn - ref_s
    if tracer.enabled:
        tracer.wrap_load_table()
    jvm = probes.Jvm(spark)
    wl.attach(spark, tracer, jvm)

    warmup = [_pass(wl, jvm) for _ in range(WARMUP_MIN)]
    while True:
        # the readings as of the end of warm-up, if this pass is steady
        mark = (time.time(), time.perf_counter(), jvm.jit_ms(), probes.host_steal_s())
        rec = _pass(wl, jvm)
        if len(warmup) >= WARMUP_MAX or rec["wall_s"] > (1 - FALL) * warmup[-1]["wall_s"]:
            break
        warmup.append(rec)
    end_s, since, jit_setup, steal0 = mark
    setup_s = end_s - args.t_spawn - ref_s

    # timed phase: whole passes until --seconds have elapsed
    wall0_ms = end_s * 1e3
    passes: list[dict] = [rec]
    while len(passes) < MIN_TIMED or time.perf_counter() - since < args.seconds:
        passes.append(_pass(wl, jvm))
    wall = time.perf_counter() - since
    wall1_ms = time.time() * 1e3
    n = len(passes)
    walls = [p["wall_s"] for p in passes]
    cpus = [sum(p["cpu"].values()) for p in passes]
    everything = warmup + passes
    errors = [e for p in everything for e in p["errors"]]
    attempted = len(everything)
    failed = sum(1 for p in everything if p["errors"])
    if args.workload == "stream_state":
        latency = _med(b["duration_ms"].get("triggerExecution", 0) / 1e3
                       for p in passes for b in p.get("batches", []))
    else:
        latency = _med(walls)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": manifest["rows_per_pass"] * n / wall,
        "latency_p50_s": latency,
        "cpu_s": _med(cpus),
        "peak_rss_mb": probes.peak_rss_mb(),
        "match_rate": 1 - failed / attempted,
    }
    layers = {
        "session.get_spark_s": get_spark_s,
        "session.warmup_s": setup_s - get_spark_s,
        "session.warmup_passes": len(warmup),
        "jvm.jit_ms_setup": jit_setup,
        "jvm.jit_ms": sum(p["jit_ms"] for p in passes),
        "jvm.gc_ms": _med(p["gc_ms"] for p in passes),
        "jvm.heap_after_gc_mb": jvm.heap_after_gc_mb(),
        "proc.jvm_cpu_s": _med(p["cpu"]["jvm"] for p in passes),
        "proc.pyworker_cpu_s": _med(p["cpu"]["pyworker"] for p in passes),
        "proc.driver_cpu_s": _med(p["cpu"]["driver"] for p in passes),
        "proc.cores_busy": sum(cpus) / (wall * len(os.sched_getaffinity(0))),
        "host.steal_s": probes.host_steal_s() - steal0,
    }
    if tracer.enabled:
        tot = tracer.totals(since)
        layers["session.load_table_s"] = tot.get("session.load_table", {}).get("total_s", 0.0) / n
        for key in wl.keys:
            layers[f"queries.{key}_s"] = _med(p["keys"][key] for p in passes if "keys" in p)
        layers["queries.build_s"] = tot.get("queries.build", {}).get("total_s", 0.0) / n
        layers["queries.exec_s"] = tot.get("queries.exec", {}).get("total_s", 0.0) / n
        layers["operators._cache.rdds_left"] = max(p.get("rdds_left", 0) for p in passes)
        layers["operators._cache.persisted_mb_peak"] = max(
            p.get("persisted_mb", 0.0) for p in passes)
        layers.update(_stream_layer(passes))
        t_alone = time.perf_counter()
        alone_errors, alone_layers = wl.standalone()
        layers.update(alone_layers)
        for name, t in tracer.totals(t_alone).items():
            if name.startswith("operators."):
                layers[f"{name}_s"] = t["total_s"]
        # the standalone calls' checks count as one more unit
        errors += alone_errors
        attempted += 1
        failed += bool(alone_errors)
    spark.stop()
    if tracer.enabled:
        layers.update(spark_layer(args.eventlog, wall0_ms, wall1_ms, n))
        tracer.dump(args.spans)
    return {
        "spans": tracer.totals(since),
        "errors": errors,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "ref_s": ref_s,
        "warmup_s": [p["wall_s"] for p in warmup],
        "passes_s": walls,
        "passes_cpu_s": cpus,
        "passes_jit_ms": [p["jit_ms"] for p in warmup + passes],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--eventlog", default="")
    ap.add_argument("--spans", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    res = run(args)
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
