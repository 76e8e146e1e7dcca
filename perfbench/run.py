#!/usr/bin/env python3
"""convoy-spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The inputs are generated from the
seed under ``.perfbench/`` in the checkout; the engine is driven as a
closed loop with one client on ``local[nproc]``. A run:

1. launches the Spark JVM and its session with ``get_spark``, then runs
   a fixed warm-up that touches none of the workload's inputs or builds
   (``setup_s`` is this cold start, what every run pays once);
2. runs timed passes until ``--seconds`` of pass time have been spent
   (at least one; a later pass gets a new session in the same JVM). A
   catalog pass runs each shared build as its own line item before its
   first consumer, then every query, collected to the driver with
   ``toPandas``; a warehouse pass is one ``build_warehouse`` call into
   an empty output directory;
3. checks the last pass's outputs, untimed: catalog queries against
   their DuckDB oracles, the warehouse against the generator's truth.

With ``--trace 1`` the one pass runs with spans and the Spark event log
on, and the run reports per-layer metrics (see ``trace.py``).
Human-readable lines come first; the last line of standard output is
the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import CATALOG, SHARED_BUILDS, WORKLOAD_NAMES  # noqa: E402

CATALOG_SF = 0.01  # catalog table scale (lineitem ~60k rows)
WAREHOUSE_TWEETS = 9000  # ~8 MB of JSONL
DRIVER_MEM = "2g"
# The parallel collector with fixed generation sizes grows the heap only
# when live data fills it, so the resident set follows what the engine
# keeps, not the collector's pause-time ergonomics (G1's default sizing
# made peak memory bimodal from run to run). A 1 GB initial heap keeps
# the fixed young generation from collecting many times a second.
JVM_OPTS = "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms1g -XX:-UsePerfData"

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("first_result_s", "s"),
    ("query_s", "s"),
    ("input_rows_per_s", "1/s"),
    ("output_bytes_per_input_byte", "ratio"),
    ("peak_rss_mb", "MB"),
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- Spark session lifecycle ----------------------------------------------


class Sessions:
    """One Spark JVM, and a fresh SparkSession per pass."""

    def __init__(self, work: str, cores: int, event_log: bool):
        self.cores = cores
        self.event_dir = os.path.join(work, "events")
        for d in ("spark-local", "events"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        # Launch-time conf from outside the engine: temp and spill space
        # inside the run's directory, and the event log for traced runs.
        os.environ.update(
            {
                "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                "SPARK_GRAFT_CPUS": str(cores),
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "PYSPARK_SUBMIT_ARGS": shlex.join(
                    [
                        "--driver-java-options",
                        f"{JVM_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                        "--conf", f"spark.eventLog.enabled={str(event_log).lower()}",
                        "--conf", f"spark.eventLog.dir=file://{self.event_dir}",
                        "--conf", "spark.eventLog.compress=false",
                        "--conf", "spark.eventLog.rolling.enabled=false",
                        "pyspark-shell",
                    ]
                ),
            }
        )
        self.spark = None
        self.start_s = self.warmup_s = None  # of the first, cold start
        self._warm = os.path.join(work, "warmup.parquet")

    def fresh(self):
        """Stop the live session (if any) and start a new one; the
        first call also launches the JVM and is the run's set-up."""
        from convoy_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("convoy-spark-perfbench", cpus=self.cores)
        t1 = time.perf_counter()
        self._warm_up()
        if self.start_s is None:
            self.start_s, self.warmup_s = t1 - t0, time.perf_counter() - t1
        return self.spark

    @property
    def setup_s(self) -> float:
        return self.start_s + self.warmup_s

    def _warm_up(self) -> None:
        """Fixed warm-up: codegen, an aggregate with a shuffle, a parquet
        write and read of a file no workload reads."""
        spark = self.spark
        spark.range(20000).selectExpr("id % 97 AS k", "id").groupBy("k").count().collect()
        spark.range(1000).write.mode("overwrite").parquet(self._warm)
        spark.read.parquet(self._warm).selectExpr("sum(id)").collect()

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process
        this run started to end."""
        from pyspark import SparkContext

        from perfbench.host import descendants

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 60
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)


# -- passes ----------------------------------------------------------------


def _op(kind: str, name: str) -> dict:
    return {"kind": kind, "name": name, "error": None}


def _fail(op: dict) -> None:
    op["error"] = traceback.format_exc(limit=-3)


def catalog_pass(spark, wl, data_dir: str, tr) -> dict:
    from convoy_spark.queries import QUERIES

    ops, results, built = [], {}, set()
    first = None
    t0 = time.perf_counter()
    for q in wl.queries:
        for b in wl.builds_for(q):
            if b.name in built:
                continue
            built.add(b.name)
            op = _op("build", b.name)
            t = time.perf_counter()
            try:
                with tr.span(f"queries.shared.{b.name}"):
                    b.materialize(spark, data_dir)
            except Exception:
                _fail(op)
            op["seconds"] = time.perf_counter() - t
            ops.append(op)
        op = _op("query", q)
        t = tc = time.perf_counter()
        try:
            with tr.span(f"query.{q}"):
                with tr.span(f"query.{q}.construct"):
                    df = QUERIES[q](spark, data_dir)
                tc = time.perf_counter()
                with tr.span(f"query.{q}.execute"):
                    results[q] = df.toPandas()
        except Exception:
            _fail(op)
        end = time.perf_counter()
        op.update(seconds=end - t, construct_s=tc - t, execute_s=end - tc)
        ops.append(op)
        if first is None:
            first = end - t0
    wall = time.perf_counter() - t0
    queries = [o["seconds"] for o in ops if o["kind"] == "query"]
    return {
        "ops": ops,
        "results": results,
        "wall_s": wall,
        "first_result_s": first,
        # mean time per query: every consumer query moves it, where the
        # median of six queries of unlike cost follows the middle two only
        "query_s": sum(queries) / len(queries),
    }


def warehouse_pass(spark, pages_dir: str, out_dir: str, tr) -> dict:
    from convoy_spark.pipeline import warehouse

    from perfbench.checks import WAREHOUSE_TABLES

    err = None
    t0 = time.time()
    try:
        warehouse.build_warehouse(spark, pages_dir, out_dir)
    except Exception:
        err = traceback.format_exc(limit=-3)
    wall = time.time() - t0
    done = {}
    for name in WAREHOUSE_TABLES:
        marker = os.path.join(out_dir, name, "_SUCCESS")
        if os.path.exists(marker):
            done[name] = os.stat(marker).st_mtime - t0
    ops = [
        dict(_op("table", n), seconds=done.get(n), error=None if n in done else (err or "not written"))
        for n in WAREHOUSE_TABLES
    ]
    ends = sorted(done.values())
    return {
        "ops": ops,
        "wall_s": wall,
        "first_result_s": ends[0] if ends else wall,
        # mean time per table after the first one
        "query_s": (ends[-1] - ends[0]) / (len(ends) - 1) if len(ends) > 1 else wall,
    }


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping markers and checksums."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


# -- the run -----------------------------------------------------------------


def assign_errors(ops: list[dict], errs: list[str]) -> None:
    """Mark each op failed by a check message naming it (``name: ...``
    or ``name.column: ...``); a message naming no op fails them all."""
    names = {op["name"] for op in ops}
    for e in errs:
        target = e.split(":")[0].split(".")[0]
        for op in ops:
            if (target not in names or op["name"] == target) and not op["error"]:
                op["error"] = e


def attempted_failed(passes: list[dict]) -> tuple[int, int]:
    ops = [op for p in passes for op in p["ops"]]
    return len(ops), sum(op["error"] is not None for op in ops)


class Run:
    def __init__(self, args: argparse.Namespace, work: str):
        from perfbench.host import cpu_count

        self.args, self.work = args, work
        self.cores = cpu_count()
        self.sessions: Sessions | None = None
        self.wl = CATALOG.get(args.workload)
        self.passes: list[dict] = []
        self.host: dict = {"loadavg_before": list(os.getloadavg())}
        self.timeline: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, phase: str) -> None:
        now = time.perf_counter()
        self.timeline[phase] = self.timeline.get(phase, 0.0) + now - self._t
        self._t = now

    # inputs
    def prepare(self) -> None:
        from perfbench import pages, tables

        if self.wl is None:
            self.pages_dir = os.path.join(self.work, "pages")
            self.truth = pages.write(
                self.args.seed, WAREHOUSE_TWEETS, self.pages_dir,
                os.path.join(self.work, "truth.json"),
            )
            self.input_rows = self.truth["tweets"]
            self.input_bytes = tree_bytes(self.pages_dir)[0]
        else:
            self.data_dir = os.path.join(self.work, "data")
            rows = tables.write(self.args.seed, CATALOG_SF, self.data_dir)
            self.input_rows = sum(rows[t] for t in self.wl.tables)
            self.input_bytes = sum(
                os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet")) for t in self.wl.tables
            )

    def launch(self, event_log: bool = False) -> None:
        """A new JVM and session: the run's set-up."""
        from perfbench.host import facts

        self.sessions = Sessions(self.work, self.cores, event_log)
        self.sessions.fresh()
        self.mark("setup")
        self.host.update(facts(self.sessions.spark))

    def one_pass(self, tr) -> dict:
        from perfbench.host import PeakRss, cpu_seconds, descendants, host_cpu_ticks
        from perfbench.trace import NullTracer

        spark = self.sessions.fresh() if self.passes else self.sessions.spark
        tr.sc = spark.sparkContext
        n = len(self.passes)
        tree = [os.getpid(), *descendants(os.getpid())]
        cpu0 = cpu_seconds(tree)
        ticks0 = host_cpu_ticks()
        start = time.time()
        with PeakRss() as rss:
            if self.wl is None:
                out_dir = os.path.join(self.work, f"out{n}")
                res = warehouse_pass(spark, self.pages_dir, out_dir, tr)
                res["out_dir"] = out_dir
            else:
                res = catalog_pass(spark, self.wl, self.data_dir, tr)
        ticks = [b - a for a, b in zip(ticks0, host_cpu_ticks())]
        res.update(start=start, end=time.time(), peak_rss_mb=rss.peak_mb,
                   steal_share=ticks[1] / max(1, ticks[0]),
                   cpu_s=cpu_seconds([os.getpid(), *descendants(os.getpid())]) - cpu0,
                   app_id=spark.sparkContext.applicationId, traced=not isinstance(tr, NullTracer))
        tr.sc = None
        self.passes.append(res)
        return res

    def check(self, res: dict) -> None:
        """Untimed output checks of one pass; failures are recorded per op."""
        from perfbench import checks

        spark = self.sessions.spark
        if self.wl is None:
            from convoy_spark.sources.jsonl import corrupt_lines, read_pages

            # the quarantine read is one more operation of the engine
            quarantine = _op("quarantine", "corrupt_lines")
            n_corrupt = -1
            t = time.perf_counter()
            try:
                pages = read_pages(spark, self.pages_dir)
                n_corrupt = corrupt_lines(pages).count()
                pages.unpersist()
            except Exception:
                _fail(quarantine)
            quarantine["seconds"] = time.perf_counter() - t
            res["ops"].append(quarantine)
            errs = checks.check_warehouse(res["out_dir"], self.truth, n_corrupt)
            res["output_bytes"] = tree_bytes(res["out_dir"])[0]
            assign_errors(res["ops"], errs)
        else:
            import pyarrow as pa

            con = checks.oracle_connection(self.data_dir)
            out_bytes = 0
            for op in res["ops"]:
                if op["kind"] != "query" or op["error"]:
                    continue
                try:
                    got = res["results"][op["name"]]
                    out_bytes += pa.Table.from_pandas(got, preserve_index=False).nbytes
                    errs = checks.check_query(op["name"], got, con)
                except Exception:
                    errs = [traceback.format_exc(limit=-3)]
                if errs:
                    op["error"] = "; ".join(errs)
            con.close()
            res["output_bytes"] = out_bytes

    def execute(self) -> dict:
        from perfbench.trace import NullTracer, Tracer

        self.prepare()
        self.mark("generate")
        if not self.args.trace:
            self.launch()
            tr = NullTracer()
            spent = 0.0
            while not self.passes or spent < self.args.seconds:
                res = self.one_pass(tr)
                spent += res["wall_s"]
            self.mark("passes")
            self.check(self.passes[-1])
            self.mark("check")
            return self.end_to_end()
        self.launch(event_log=True)
        tracer = Tracer(run_id=f"{self.args.workload}-{self.args.seed}-{os.getpid()}")
        tracer.install({id(b.cache_dict()): b.name for b in SHARED_BUILDS})
        try:
            traced = self.one_pass(tracer)
        finally:
            tracer.uninstall()
        self.mark("passes")
        self.check(traced)
        self.mark("check")
        tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{tracer.run_id}.json"))
        return self.per_layer(tracer, traced)

    # metrics
    def end_to_end(self) -> dict:
        med = lambda key: statistics.median(p[key] for p in self.passes)  # noqa: E731
        wall = med("wall_s")
        last = self.passes[-1]
        return {
            "setup_s": self.sessions.setup_s,
            "wall_s": wall,
            "first_result_s": med("first_result_s"),
            "query_s": med("query_s"),
            "input_rows_per_s": self.input_rows / wall,
            "output_bytes_per_input_byte": last["output_bytes"] / self.input_bytes,
            "peak_rss_mb": med("peak_rss_mb"),
        }

    def per_layer(self, tracer, traced: dict) -> dict:
        from perfbench import trace

        spark = self.sessions.spark
        spark.stop()  # flush the traced session's event log
        self.sessions.spark = None
        log = trace.read_event_log(trace.event_log_file(self.sessions.event_dir, traced["app_id"]))
        spans = [s for s in tracer.spans if traced["start"] <= s.start <= traced["end"]]
        layers = trace.span_metrics(spans, log["jobs"])
        out = {
            "session.start_s": self.sessions.start_s,
            "session.warmup_s": self.sessions.warmup_s,
        }
        for layer in trace.SPAN_LAYERS:
            for key, _unit in trace.SPAN_METRICS:
                out[f"{layer}.{key}"] = layers.get(layer, {}).get(key, 0.0)
        is_wh = self.wl is None
        out["sources.jsonl.scan_passes"] = trace.json_scans(log["sql"], traced["start"], traced["end"])
        writes = [s for s in spans if s.name == "pipeline.warehouse.write"]
        size, files = tree_bytes(traced["out_dir"]) if is_wh else (0, 0)
        out["pipeline.warehouse.write_s"] = sum(s.end - s.start for s in writes)
        out["pipeline.warehouse.bytes_written"] = size
        out["pipeline.warehouse.files_written"] = files
        misses = {k: v for k, v in tracer.calls.items() if k.startswith("queries.shared.")}
        out["queries.shared.builds"] = sum(misses.values())
        for b in shared_build_metrics():
            out[f"queries.shared.{b}_s"] = sum(
                s.end - s.start for s in spans if s.name == f"queries.shared.{b}"
            )
        out["operators.pq.exact_l2_topk_calls"] = tracer.calls.get("operators.pq.exact_l2_topk", 0)
        q_ops = [o for o in traced["ops"] if o["kind"] == "query"]
        out["query.construct_s"] = sum(o.get("construct_s", 0.0) for o in q_ops)
        out["query.execute_s"] = sum(o.get("execute_s", 0.0) for o in q_ops)
        for key, value in trace.spark_metrics(log["jobs"], traced["start"], traced["end"], self.cores).items():
            out[f"spark.{key}"] = value
        out["trace.overhead_s"] = tracer.overhead_s
        out["trace.uncovered_share"] = trace.uncovered_share(spans, traced["start"], traced["end"])
        self.trace_detail = {"builds_per_cache": misses, "queries": q_ops}
        return out


def shared_build_metrics() -> list[str]:
    """The shared builds the gated ``catalog`` workload runs, in table
    order; the family workloads print their other builds' times on the
    pass line only."""
    return [b.name for b in CATALOG["catalog"].builds()]


def per_layer_units() -> dict[str, str]:
    from perfbench import trace

    units = {"session.start_s": "s", "session.warmup_s": "s"}
    for layer in trace.SPAN_LAYERS:
        for key, unit in trace.SPAN_METRICS:
            units[f"{layer}.{key}"] = unit
    units.update(
        {
            "sources.jsonl.scan_passes": "count",
            "pipeline.warehouse.write_s": "s",
            "pipeline.warehouse.bytes_written": "bytes",
            "pipeline.warehouse.files_written": "count",
            "queries.shared.builds": "count",
        }
    )
    units.update({f"queries.shared.{b}_s": "s" for b in shared_build_metrics()})
    units.update(
        {
            "operators.pq.exact_l2_topk_calls": "count",
            "query.construct_s": "s",
            "query.execute_s": "s",
        }
    )
    units.update({f"spark.{k}": u for k, u in trace.SPARK_METRICS})
    units.update({"trace.overhead_s": "s", "trace.uncovered_share": "share"})
    return units


def report(run: Run, metrics: dict, units: dict[str, str]) -> dict:
    attempted, failed = attempted_failed(run.passes)
    print(f"workload {run.args.workload} seed {run.args.seed} trace {run.args.trace} "
          f"passes {len(run.passes)} local[{run.cores}]")
    print("host", json.dumps(run.host))
    print(f"inputs: {run.input_rows} rows, {run.input_bytes} bytes")
    print("timeline", " ".join(f"{k}={v:.2f}" for k, v in run.timeline.items()))
    for p in run.passes:
        items = " ".join(f"{o['name']}={o['seconds']:.2f}" if o["seconds"] is not None else f"{o['name']}=-"
                         for o in p["ops"])
        print(f"pass{' (traced)' if p['traced'] else ''} wall {p['wall_s']:.2f} s cpu {p['cpu_s']:.2f} s "
              f"host steal {p['steal_share']:.1%}: {items}")
    for p in run.passes:
        for o in p["ops"]:
            if o["error"]:
                print(f"FAILED {o['kind']} {o['name']}: {o['error']}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"failed_frac {failed / attempted:.6g} ({failed}/{attempted})")
    if getattr(run, "trace_detail", None):
        print("trace", json.dumps(run.trace_detail["builds_per_cache"]))
        for o in run.trace_detail["queries"]:
            print(f"query.{o['name']} construct_s {o['construct_s']:.3f} execute_s {o['execute_s']:.3f}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "convoy_spark")):
        print(f"perfbench: no convoy_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    # every temporary file of this process and its children stays in the run's directory
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    run = Run(args, work)
    try:
        metrics = run.execute()
        run.host["loadavg_after"] = list(os.getloadavg())
    finally:
        if run.sessions is not None:
            run.sessions.close()
        shutil.rmtree(work, ignore_errors=True)
        run.mark("close")
    units = per_layer_units() if args.trace else dict(END_TO_END)
    result = report(run, metrics, units)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
