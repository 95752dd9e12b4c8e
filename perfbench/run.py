#!/usr/bin/env python3
"""Layered benchmark of the newspapers_etl_spark engine.

    python3 perfbench/run.py --workload dedup_search --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run, in one driver process on
``local[nproc]``:

1. set-up: the Spark session comes up and the query registry loads;
2. seeded inputs are generated under ``perfbench/.work`` (not timed);
3. a cold pass, then steady passes for ``--seconds`` seconds, each a
   closed loop of calls into the package's public functions;
4. the correctness gate (Spark vs DuckDB, index vs from-scratch rebuild);
5. ``--trace 1`` only: a traced pass in a new Spark context with the
   event log on, plus kernel and publish timings.

The last stdout line is the result JSON; the full record (every call,
span and count) goes to ``perfbench/results/``.  See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402
import runtime  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least
    ``k`` samples beyond it, where ``k`` is 10 from 40 samples up and a
    quarter of the samples (at least one) below that."""
    s, n = sorted(xs), len(xs)
    k = 10 if n >= 40 else max(1, n // 4)
    i = max(0, n - 1 - k)
    return s[i], 100.0 * (i + 1) / n, n


def _files(roots) -> dict[str, tuple[int, int]]:
    out = {}
    for r in roots:
        for d, _, names in os.walk(r):
            for f in names:
                if f.endswith(".crc") or f.startswith("."):
                    continue
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _generations(roots) -> int:
    total = 0
    for path in _files(roots):
        if os.path.basename(path) == "_CURRENT":
            with open(path) as f:
                total += int(json.load(f).get("generation", 0))
    return total


class Runner:
    def __init__(self, args, work: str, started: float):
        self.args, self.work, self.started = args, work, started
        self.cores = runtime.cores()
        self.spark = None
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cores": self.cores,
            "heap_gb": runtime.heap_gb(),
        }

    # -- one call / one pass ------------------------------------------------

    def call(self, c, span=None):
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        before = _files(c.roots) if span and c.roots else None
        gens = _generations(c.roots) if span and c.roots else 0
        if span:
            sc.setJobGroup(span.group, c.name)
            span.start_ms = time.time() * 1000
        t0 = time.perf_counter()
        ok, out, t_build = True, None, None
        try:
            res = c.fn()
            if span:
                span.build_end_ms = time.time() * 1000
            t_build = time.perf_counter()
            if isinstance(res, DataFrame):
                out = res.toPandas()
            if c.visible is not None and not c.visible():
                raise RuntimeError("change not visible through the pointer")
        except Exception as e:
            ok = False
            t_build = t_build or time.perf_counter()
            log(f"{c.name}: FAILED {type(e).__name__}: {str(e)[:400]}")
        secs = time.perf_counter() - t0
        if span:
            span.end_ms = time.time() * 1000
            sc.setLocalProperty("spark.jobGroup.id", None)
            from tracing import live_cache_bytes

            span.counts.update(
                build_s=t_build - t0,
                execute_s=secs - (t_build - t0),
                ok=ok,
                cache_live_bytes=live_cache_bytes(self.spark),
            )
            if before is not None:
                after = _files(c.roots)
                new = [p for p, v in after.items() if before.get(p) != v]
                span.counts.update(
                    files_written=len(new),
                    bytes_written=sum(after[p][0] for p in new),
                    input_bytes_op=c.input_bytes,
                    generations=_generations(c.roots) - gens,
                )
        return secs, ok, out

    def run_pass(self, pass_no: int, spans=None) -> dict:
        from tracing import Span

        calls = self.wl.calls(self.ctx, pass_no)
        # Every pass starts from a collected heap, so a pass does not pay
        # for the garbage of the one before it.
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        jvm = procfs.find_jvm()
        py0, jvm0 = procfs.python_cpu_s(), procfs.tree_cpu_s(jvm)
        t0 = time.perf_counter()
        out, self.outputs = [], []
        for i, c in enumerate(calls):
            if c.kind == "probe":
                c.fn()
                continue
            span = None
            if spans is not None:
                span = Span(i, c.name, c.kind, f"perfbench-{pass_no}-{i}", 0.0)
                spans.append(span)
            secs, ok, res = self.call(c, span)
            self.outputs.append(res)
            out.append({"name": c.name, "kind": c.kind, "s": secs, "ok": ok})
        wall = time.perf_counter() - t0
        py, jv = procfs.python_cpu_s() - py0, procfs.tree_cpu_s(jvm) - jvm0
        self.wl.end_pass(self.ctx, pass_no)
        log(f"pass {pass_no}: {wall:.2f}s, {len(out)} calls")
        return {"wall_s": wall, "python_cpu_s": py, "jvm_cpu_s": jv, "calls": out}

    # -- the run ---------------------------------------------------------------

    def stop(self) -> None:
        if self.spark is not None:
            runtime.shutdown(self.spark)
            self.spark = None

    def start_session(self, extra: dict):
        from newspapers_etl_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=extra)
        return time.time() - t0

    def run(self) -> dict:
        import numpy as np

        from workloads import WORKLOADS, Ctx

        a, rec = self.args, self.record
        self.conf = runtime.configure(ROOT, self.work)
        session_s = self.start_session(self.conf)
        t0 = time.time()
        from newspapers_etl_spark import registry

        registry.all_queries()
        registry_s = time.time() - t0
        setup = {
            "wall_s": time.time() - self.started,
            "cpu_s": procfs.python_cpu_s() + procfs.tree_cpu_s(procfs.find_jvm()),
        }
        rec["layers"] = {"session.start_s": session_s, "registry.load_s": registry_s}

        self.wl = WORKLOADS[a.workload]
        t0 = time.time()
        self.ctx = Ctx(
            self.spark,
            os.path.join(self.work, "inputs"),
            os.path.join(self.work, "passes"),
            a.seed,
            np.random.default_rng(a.seed),
        )
        self.wl.prepare(self.ctx)
        rec["inputs"] = {"gen_s": time.time() - t0, "tables": self.ctx.gen_record}
        log(f"setup {setup['wall_s']:.2f}s, inputs {rec['inputs']['gen_s']:.2f}s")

        cold = self.run_pass(0)
        steady, t0, n = [], time.perf_counter(), 1
        while not steady or time.perf_counter() - t0 < a.seconds:
            steady.append(self.run_pass(n))
            n += 1
        rec["peak_rss"] = {
            "jvm_hwm_mb": procfs.vm_hwm_mb(procfs.find_jvm()),
            "python_mb": procfs.python_maxrss_mb(),
        }
        peak_rss = sum(rec["peak_rss"].values())
        rec["passes"] = {"cold": cold, "steady": steady}

        named = {c["name"]: o for c, o in zip(steady[-1]["calls"], self.outputs)}
        t0 = time.perf_counter()
        checks = self.wl.gate(self.ctx, named)
        rec["gate_s"] = time.perf_counter() - t0
        rec["gate"] = [c.__dict__ for c in checks]
        for c in checks:
            log(f"gate {c.name}: {'ok' if c.ok else 'MISMATCH'} ({c.detail})")

        calls = [c for p in [cold, *steady] for c in p["calls"]]
        failed = sum(not c["ok"] for c in calls) + sum(not c.ok for c in checks)
        attempted = len(calls) + len(checks)
        rec.update(attempted=attempted, failed=failed, error_rate=failed / attempted)

        if a.trace:
            self.traced(statistics.median(p["wall_s"] for p in steady))
        else:
            self.end_to_end(setup, cold, steady, peak_rss)
        return rec

    def input_rows(self) -> int:
        """Rows of the generated inputs the workload's calls read."""
        return sum(t["rows"] for t in self.ctx.gen_record.values())

    def end_to_end(self, setup, cold, steady, peak_rss) -> None:
        calls = [c for p in steady for c in p["calls"]]

        def lat(kind=None):
            return [c["s"] for c in calls if kind is None or c["kind"] == kind]

        wall = statistics.median(p["wall_s"] for p in steady)
        m = {
            "setup_s": (setup["cpu_s"], "s"),
            "setup_wall_s": (setup["wall_s"], "s"),
            "cold_wall_s": (cold["wall_s"], "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (self.input_rows() / wall, "rows/s"),
            "cpu_s": (
                statistics.median(p["python_cpu_s"] + p["jvm_cpu_s"] for p in steady),
                "s",
            ),
            "cold_cpu_s": (cold["python_cpu_s"] + cold["jvm_cpu_s"], "s"),
            "peak_rss_mb": (peak_rss, "MB"),
            "success_rate": (1.0 - self.record["error_rate"], "ratio"),
        }
        tails = {}
        for prefix, kind in (("op", None), ("write", "write"), ("read", "read")):
            xs = lat(kind)
            v, pct, n = tail(xs)
            m[f"{prefix}_p50_s"] = (statistics.median(xs), "s")
            m[f"{prefix}_tail_s"] = (v, "s")
            tails[f"{prefix}_tail_s"] = {"percentile": pct, "samples": n}
        self.record["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        self.record["tails"] = tails

    def traced(self, untraced_wall: float) -> None:
        """A traced pass in a new Spark context that writes the event log,
        then the kernel and publish timings."""
        import numpy as np

        import kernels
        from tracing import StreamListener, fold_event_log, fold_streams

        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        self.spark.stop()
        self.start_session(
            {
                **self.conf,
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            }
        )
        self.ctx.spark = self.spark
        listener = StreamListener(self.spark)
        spans: list = []
        p = self.run_pass(1000, spans)
        listener.settle()
        listener.remove()
        rates = kernels.kernel_rates(
            self.spark,
            np.random.default_rng(self.args.seed),
            self.cores,
            os.path.join(self.work, "kernel_input.parquet"),
        )
        publish_s = kernels.publish_seconds(os.path.join(self.work, "publish"))
        self.stop()
        spark_tot = fold_event_log(log_dir, spans)
        streams = fold_streams(listener, spans)
        writes = [s.counts for s in spans if "files_written" in s.counts]
        in_bytes = sum(c["input_bytes_op"] for c in writes)
        spark_tot["busy_share"] = spark_tot.pop("run_s") / (p["wall_s"] * self.cores)
        L = self.record["layers"]
        L.update({f"spark.{k}": v for k, v in spark_tot.items() if k != "eager_jobs"})
        L.update(
            {
                "operators.build_s": sum(s.counts["build_s"] for s in spans),
                "operators.execute_s": sum(s.counts["execute_s"] for s in spans),
                "operators.eager_jobs": spark_tot["eager_jobs"],
                "cache.live_bytes": max(s.counts["cache_live_bytes"] for s in spans),
                "sinks.files_written": sum(c["files_written"] for c in writes),
                "sinks.bytes_written": sum(c["bytes_written"] for c in writes),
                "sinks.write_amp": sum(c["bytes_written"] for c in writes) / in_bytes if in_bytes else 0.0,
                "sinks.generations": sum(c["generations"] for c in writes),
                "sinks.publish_s": publish_s,
                "driver.python_cpu_s": p["python_cpu_s"],
                "driver.jvm_cpu_s": p["jvm_cpu_s"],
                "tracing.overhead_s": p["wall_s"] - untraced_wall,
                "input.rows": self.input_rows(),
                "input.bytes": sum(t["bytes"] for t in self.ctx.gen_record.values()),
            }
        )  # fmt: skip
        L.update({f"streaming.{k}": v for k, v in streams.items()})
        L.update({f"functions.{k}_rows_per_core_s": v for k, v in rates.items()})
        # The traced pass's probes around its compaction; space amp is the
        # bytes on disk ÷ the bytes of a minimal layout of the live rows.
        live = self.ctx.extra["live_bytes"]
        for when, r in zip(("before_compact", "after_compact"), self.ctx.extra["roots"][-2:]):
            L[f"sinks.live_roots_{when}"] = r["live_roots"]
            L[f"sinks.space_amp_{when}"] = r["bytes"] / live
        self.record["traced_pass"] = {
            "wall_s": p["wall_s"],
            "untraced_wall_s": untraced_wall,
            "spans": [s.__dict__ for s in spans],
            "kernel_rows": kernels.ROWS,
        }


def main() -> int:
    started = procfs.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "newspapers_etl_spark", "__init__.py")):
        log("newspapers_etl_spark/ not found: run from the repository root")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(HERE, ".work", f"p{os.getpid()}")
    runner = Runner(args, work, started)
    try:
        rec = runner.run()
    finally:
        runner.stop()
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    # BENCHMARK.json names the metrics the result line carries; stderr
    # shows every figure the run measured.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if args.trace:
        measured = {k: {"value": v, "unit": units[k]} for k, v in rec["layers"].items()}
    else:
        measured = rec["end_to_end"]
        for k, t in rec["tails"].items():
            log(f"{k}: p{t['percentile']:.1f} of {t['samples']} samples")
    for k, v in measured.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    metrics = {k: measured[k] for k in units}
    log(f"correctness gate: {rec['failed']} failed of {rec['attempted']} attempted")
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
