"""Closed-loop benchmark of bo_sql_spark (one client, one op in flight).

    python3 benchmark/run.py --workload sql_adhoc --seed 1 --seconds 4 --trace 0

Run from the repository root. Each run:

1. makes a private scratch directory ``.bench_runs/<run>/`` and points
   TMPDIR, Python's tempfile, the JVM's java.io.tmpdir (where streaming
   queries without a checkpoint location keep theirs), spark.local.dir
   and the warehouse at it; the directory is deleted at exit;
2. writes the workload's tables there (benchmark/datagen.py, in a child
   process) from one fixed data seed: ``--seed`` changes the op stream
   only, never the data;
3. sets up three times (session start, catalog registration, warm-up),
   stopping the session in between, and reports the median as setup_s;
   the first, cold set-up (JVM launch, first registration) and the
   untimed warm pass that follows are per-layer metrics;
4. runs seeded ops (benchmark/ops.py) in whole rounds, at least two,
   until ``--seconds`` have passed, timing each op;
5. checks every op's output outside the timed window: SQL against DuckDB,
   registry pipelines against their oracle SQL, and streaming pipelines
   for one microbatch per source file covering every source row;
6. prints environment data, then one JSON line with the verdict and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``). The traced run also writes its spans to
   ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import ops  # noqa: E402
from datagen import DATA_SEED  # noqa: E402
from layertrace import Tracer, self_times  # noqa: E402

WORKLOAD_SF = {"sql_adhoc": 0.1, "corpus_batch": 0.01}
SETUP_REPS = 3
WARM_SF = 0.001
# streaming pipelines -> the table their file stream reads
STREAM_SOURCE = {
    "similarity_ivf_stream_ingest": "embeddings",
    "stream_session_windows": "events",
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SF))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the scale factor")
    return p.parse_args(argv)


# ---- environment ---------------------------------------------------------
def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _source_digest(root: str) -> str:
    """Content hash of the program's sources (the checkout has no git)."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "bo_sql_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit(root: str) -> str:
    import subprocess

    if not os.path.isdir(os.path.join(root, ".git")):
        return "source-" + _source_digest(root)
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + _source_digest(root)


def _anchor_s(spark) -> float:
    """The bench.py host anchor: a pure-JVM aggregate with no I/O."""
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id * 3 + 1)").collect()
    return time.perf_counter() - t0


# ---- statistics ----------------------------------------------------------
def tail(lat: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with
    ten samples beyond it, or with a quarter of the samples beyond it
    while there are fewer than 40."""
    n = len(lat)
    q = 1 - min(10, n // 4) / n
    s = sorted(lat)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    val = s[lo] + (s[hi] - s[lo]) * (pos - lo)
    return val, round(100 * q, 2), sum(1 for x in s if x > val)


# ---- output checks -------------------------------------------------------
def _markdown_cells(text: str) -> tuple[list[str], list[list[str]]]:
    if text == "(no results)":
        return [], []
    lines = text.split("\n")
    split = lambda ln: [c.strip() for c in ln[2:-2].split(" | ")]  # noqa: E731
    return split(lines[0]), [split(ln) for ln in lines[2:]]


_DESC_COL = re.compile(r"^  (\w+): (\S+)  ndv=(\d+)  min=(.*)  max=(.*)$")


def check_sql(con, stmt: str, out: str) -> str | None:
    """None when ``out`` (Engine.execute's text) agrees with DuckDB."""
    from bo_sql_spark.formatters import _cell

    m = re.match(r"DESCRIBE (\w+)$", stmt)
    if m:
        table = m.group(1)
        lines = out.split("\n")
        n = con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
        if lines[1] != f"rows: {n}":
            return f"{table}: {lines[1]} != rows: {n}"
        for line in lines[2:]:
            col, _dtype, ndv, lo, hi = _DESC_COL.match(line).groups()
            exact, dlo, dhi = con.execute(
                f"SELECT COUNT(DISTINCT {col}), MIN({col}), MAX({col}) FROM {table}"
            ).fetchone()
            if (lo, hi) != (str(dlo), str(dhi)):
                return f"{table}.{col}: min/max {lo}/{hi} != {dlo}/{dhi}"
            # approx_count_distinct: HLL++ at 5% relative standard deviation
            if abs(int(ndv) - exact) > max(2, 0.15 * exact):
                return f"{table}.{col}: ndv {ndv} vs exact {exact}"
        return None
    cur = con.execute(stmt)
    cols = [d[0] for d in cur.description]
    rows = [[_cell(v) for v in r] for r in cur.fetchall()]
    got_cols, got_rows = _markdown_cells(out)
    if rows and got_cols != cols:
        return f"columns {got_cols} != {cols}"
    if got_rows != rows:
        diff = [(a, b) for a, b in zip(got_rows, rows) if a != b][:2]
        return f"rows differ ({len(got_rows)} vs {len(rows)}): {diff}"
    return None


def check_builder(con, spec, pdf, progress, table_rows) -> str | None:
    from bo_sql_spark.testing import compare_results

    ok, msg = compare_results(pdf, con.execute(spec.oracle).df())
    if not ok:
        return msg
    src = STREAM_SOURCE.get(spec.name)
    if src is not None:
        batches = [p for p in progress if p["rows"] > 0]
        if len(batches) != 1 or batches[0]["rows"] != table_rows[src]:
            return (
                f"stream over one {src} file: {len(batches)} data microbatches, "
                f"{sum(p['rows'] for p in batches)} rows (want 1, {table_rows[src]})"
            )
    return None


def _generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """datagen in a child process, so its memory peak stays out of
    peak_rss_mb; returns rows per table."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "datagen.py"), out_dir, str(seed), str(sf)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout)


# ---- the run -------------------------------------------------------------
class Run:
    def __init__(self, args, root: str, run_dir: str):
        self.args = args
        self.root = root
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.engine = None
        self.registry = None

    def _session(self):
        from bo_sql_spark.session import get_session

        rd = self.run_dir
        return get_session(
            app_name="bo-sql-spark-benchmark",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.local.dir": os.path.join(rd, "local"),
                "spark.sql.warehouse.dir": os.path.join(rd, "warehouse"),
                # no hsperfdata file under /tmp: the run writes only inside rd
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(rd, 'tmp')} -XX:-UsePerfData"
                ),
            },
        )

    def setup_once(self) -> dict:
        from bo_sql_spark.catalog import load_tables
        from bo_sql_spark.engine import Engine

        t = {}
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = self._session()
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with self.tracer.span("catalog.load_tables"):
            load_tables(self.spark, self.data_dir)
        t2 = time.perf_counter()
        self.engine = Engine(self.spark)
        with self.tracer.span("setup.warmup"):
            for stmt in ops.warmup_sql(self.args.workload):
                self.engine.execute(stmt)
        t3 = time.perf_counter()
        t["session.start_s"] = t1 - t0
        t["catalog.load_tables_s"] = t2 - t1
        t["setup.warmup_s"] = t3 - t2
        t["setup_s"] = t3 - t0
        return t

    def _execute(self, op: str):
        """One op: a SQL statement through the engine, or a registry
        pipeline collected to pandas."""
        if self.args.workload == "sql_adhoc":
            return self.engine.execute(op)
        with self.tracer.span("queries.build"):
            df = self.registry[op].builder(self.spark, self.data_dir)
        with self.tracer.span("sink.collect"):
            return df.toPandas()

    def main(self) -> dict:
        args = self.args
        sf = args.sf if args.sf is not None else WORKLOAD_SF[args.workload]
        table_rows = _generate(self.data_dir, DATA_SEED, sf)
        table_bytes = {
            t: os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in table_rows
        }
        t_cold = time.perf_counter()
        from bo_sql_spark.queries import load_all

        self.registry = load_all()
        self.tracer.install_layers()
        setups = []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("setup"):
                setups.append(self.setup_once())
            if len(setups) == 1:
                cold_s = time.perf_counter() - t_cold
        warm_pass_s = self._warm_pass()
        self.tracer.attach(self.spark)
        anchor_start = _anchor_s(self.spark)

        gen = ops.op_stream(args.workload, args.seed)
        per_round = ops.round_size(args.workload)
        results = []
        t_begin = time.perf_counter()
        while True:
            for _ in range(per_round):
                op = next(gen)
                op_id = f"op{len(results)}"
                self.tracer.begin_op(op_id)
                written0 = self._written() if self.tracer.enabled else None
                e0 = time.time()
                t0 = time.perf_counter()
                err, out = None, None
                with self.tracer.span("op"):
                    try:
                        out = self._execute(op)
                    except Exception as exc:  # counted as a failed op
                        err = f"{type(exc).__name__}: {str(exc)[:300]}"
                t1 = time.perf_counter()
                rec = {"op": op, "id": op_id, "wall": t1 - t0, "err": err, "out": out}
                rec.update(self.tracer.end_op(e0, e0 + (t1 - t0), self.cpus))
                if written0 is not None:
                    b1, f1 = self._written()
                    rec["sinks"] = (b1 - written0[0], f1 - written0[1])
                results.append(rec)
            # at least two rounds: how many rounds a run holds must not
            # flip with the host's speed, and the first round after the
            # warm pass still runs 10-20% slower than the second
            if len(results) >= 2 * per_round and time.perf_counter() - t_begin >= args.seconds:
                break
        timed_wall = time.perf_counter() - t_begin
        anchor_end = _anchor_s(self.spark)
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(
            self.spark._jvm.java.lang.ProcessHandle.current().pid()
        )
        self._check(results, table_rows)
        self.tracer.uninstall_layers()
        return self._report(
            results, setups, timed_wall, table_rows, table_bytes, rss,
            {
                "anchor_s_start": round(anchor_start, 4),
                "anchor_s_end": round(anchor_end, 4),
                "setup.cold_s": round(cold_s, 3),
                "setup.warm_pass_s": round(warm_pass_s, 3),
            },
        )

    def _warm_pass(self) -> float:
        """One untimed round before timing, so the timed ops start with
        compiled code paths but nothing they could reuse: every statement
        template with other literals, or every pipeline on a small table
        set of another seed (then the timed tables are registered again),
        and the host anchor query once.
        The ops run on one thread per core, so their first-call costs
        (class loading, code generation, Python worker start) overlap."""
        from concurrent.futures import ThreadPoolExecutor

        from bo_sql_spark.catalog import load_tables

        t0 = time.perf_counter()
        with self.tracer.span("warm_pass"):
            if self.args.workload == "sql_adhoc":
                work = [
                    lambda s=stmt: self.engine.execute(s)
                    for stmt in ops.warm_round(self.args.seed)
                ]
            else:
                warm_dir = os.path.join(self.run_dir, "warm")
                _generate(warm_dir, DATA_SEED + 1, WARM_SF)
                load_tables(self.spark, warm_dir)
                work = [
                    lambda n=name: self.registry[n].builder(self.spark, warm_dir).toPandas()
                    for name in ops.CORPUS_BUILDERS
                ]
            work.append(lambda: _anchor_s(self.spark))  # compiles the anchor query
            with ThreadPoolExecutor(self.cpus) as pool:
                for f in [pool.submit(w) for w in work]:
                    f.result()
            if self.args.workload == "corpus_batch":
                load_tables(self.spark, self.data_dir)
        return time.perf_counter() - t0

    def _written(self) -> tuple[int, int]:
        """(bytes, files) under the scratch dir, minus inputs and shuffle."""
        skip = {self.data_dir, os.path.join(self.run_dir, "warm"), os.path.join(self.run_dir, "local")}
        nbytes = nfiles = 0
        for d, dirs, files in os.walk(self.run_dir):
            dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
            for f in files:
                try:
                    nbytes += os.path.getsize(os.path.join(d, f))
                    nfiles += 1
                except OSError:
                    pass
        return nbytes, nfiles

    def _check(self, results, table_rows) -> None:
        from bo_sql_spark.testing import duckdb_connect

        con = duckdb_connect(self.data_dir)
        for rec in results:
            if rec["err"] is not None:
                continue
            try:
                if self.args.workload == "sql_adhoc":
                    rec["err"] = check_sql(con, rec["op"], rec["out"])
                else:
                    rec["err"] = check_builder(
                        con, self.registry[rec["op"]], rec["out"],
                        rec["progress"], table_rows,
                    )
            except Exception as exc:
                rec["err"] = f"check raised {type(exc).__name__}: {exc}"
        con.close()

    def _source(self, op: str, per_table: dict[str, int]) -> int:
        """Sum of ``per_table`` over the source tables ``op`` reads."""
        text = op if self.args.workload == "sql_adhoc" else self.registry[op].oracle
        return sum(per_table[t] for t in ops.tables_read(text))

    def _report(self, results, setups, timed_wall, table_rows, table_bytes, rss, anchors):
        args = self.args
        failed = [r for r in results if r["err"] is not None]
        lat = [r["wall"] for r in results]
        tail_v, tail_q, beyond = tail(lat)
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "commit": _commit(self.root),
            **anchors,
            "ops": len(results),
            "tail_percentile": tail_q,
            "tail_samples_beyond": beyond,
            "timed_wall_s": round(timed_wall, 3),
            "peak_rss_mb": round(rss, 1),
            "setup_reps_s": [round(s["setup_s"], 3) for s in setups],
            "op_kind_p50_s": {
                k: round(statistics.median(r["wall"] for r in results if self._kind(r["op"]) == k), 3)
                for k in sorted({self._kind(r["op"]) for r in results})
            },
            "op_walls_s": [round(x, 3) for x in lat],
        }
        for r in failed[:5]:
            print(f"FAILED {r['id']} {r['op'][:80]!r}: {r['err']}", file=sys.stderr)
        out_dir = os.path.join(self.root, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-s{args.seed}"
        if args.trace:
            metrics = self._layers(results, setups, table_bytes, anchors)
            spans = self.tracer.spans
            untraced = os.path.join(out_dir, f"result-{stem}.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["metrics"]["latency_p50_s"]["value"]
                env["trace_overhead_p50_ratio"] = round(
                    statistics.median(lat) / base - 1, 4
                )
            with open(os.path.join(out_dir, f"trace-{stem}.json"), "w") as f:
                json.dump(
                    {
                        "env": env,
                        "spans": spans,
                        "self_s": self_times(spans),
                        "ops": [
                            {k: v for k, v in r.items() if k != "out"} for r in results
                        ],
                        "metrics": metrics,
                    },
                    f,
                    default=str,
                )
        else:
            src_rows = sum(self._source(r["op"], table_rows) for r in results)
            e2e = {
                "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
                "latency_p50_s": (statistics.median(lat), "s"),
                "latency_tail_s": (tail_v, "s"),
                "throughput_ops_s": ((len(results) - len(failed)) / timed_wall, "ops/s"),
                "rows_per_s": (src_rows / timed_wall, "rows/s"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            with open(os.path.join(out_dir, f"result-{stem}.json"), "w") as f:
                json.dump({"env": env, "metrics": metrics}, f)
        print(json.dumps({"env": env}))
        return {
            "correct": not failed,
            "attempted": len(results),
            "failed": len(failed),
            "metrics": metrics,
        }

    def _kind(self, op: str) -> str:
        """The op's template (sql_adhoc) or builder (corpus_batch)."""
        return ops.sql_kind(op) if self.args.workload == "sql_adhoc" else op

    def _layers(self, results, setups, table_bytes, anchors) -> dict:
        """Per-layer metrics of the traced run (see benchmark/METRICS.md)."""
        n = len(results)
        m: dict[str, float] = {}
        for k in ("session.start_s", "catalog.load_tables_s", "setup.warmup_s"):
            m[k] = statistics.median(s[k] for s in setups)
        m["setup.cold_s"] = anchors["setup.cold_s"]
        m["setup.warm_pass_s"] = anchors["setup.warm_pass_s"]
        op_spans: dict[str, dict[str, float]] = {r["id"]: {} for r in results}
        for s in self.tracer.spans:
            if s["op"] in op_spans and s["name"] != "op":
                d = op_spans[s["op"]]
                d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
        span_names = {
            "engine.sql_s": "engine.sql",
            "engine.format_s": "engine.format",
            "catalog.describe_s": "catalog.describe",
            "queries.build_s": "queries.build",
            "operators.serve_s": "operators.serve",
            "operators.append_s": "operators.append",
        }
        for metric, span in span_names.items():
            m[metric] = sum(d.get(span, 0.0) for d in op_spans.values()) / n
        spark_keys = (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
            "spark.input_bytes", "spark.executor_run_s", "spark.executor_cpu_s",
            "spark.executor_wait_s", "spark.shuffle_write_bytes",
            "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.job_s",
            "driver.gap_s", "catalyst.analysis_ms", "catalyst.optimization_ms",
            "catalyst.planning_ms", "plans.parquet_scans", "plans.rdd_scans",
            "plans.exchanges", "plans.reused_exchanges", "plans.python_evals",
            "queries.build_jobs", "trace.overhead_s",
        )
        for k in spark_keys:
            m[k] = sum(r["spark"].get(k, 0.0) for r in results) / n
        run_s = sum(r["spark"].get("spark.executor_run_s", 0.0) for r in results)
        wall = sum(r["wall"] for r in results)
        m["spark.core_busy_ratio"] = run_s / (wall * self.cpus)
        prog = [p for r in results for p in r["progress"]]
        m["streaming.microbatches"] = len(prog) / n
        for k in ("trigger_ms", "add_batch_ms", "query_planning_ms", "commit_ms"):
            m[f"streaming.{k}"] = statistics.mean(p[k] for p in prog) if prog else 0.0
        for k in ("state_rows", "state_memory_bytes"):
            m[f"streaming.{k}"] = max((p[k] for p in prog), default=0)
        written = sum(r["sinks"][0] for r in results)
        m["sinks.bytes_written"] = written / n
        m["sinks.files_written"] = sum(r["sinks"][1] for r in results) / n
        read = sum(self._source(r["op"], table_bytes) for r in results)
        m["sinks.bytes_per_input_byte"] = written / read if read else 0.0
        units = layer_units()
        return {k: {"value": v, "unit": units[k]} for k, v in sorted(m.items())}


def layer_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {x["name"]: x["unit"] for x in spec["per_layer"]}


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    sys.path.insert(0, root)
    import bo_sql_spark  # noqa: F401  (fail fast when the program is absent)

    runs = os.path.join(root, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-s{args.seed}-", dir=runs
    )
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    run = Run(args, root, run_dir)
    # a terminated run still stops Spark and deletes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run.main()
    finally:
        _shutdown(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
