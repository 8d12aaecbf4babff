"""Repository benchmark for the dedup engine.

Run from the repository root:

    python3 perfbench/run.py --workload skewed_channels --seed 1 --seconds 20 --trace 0

One run starts a fresh Spark session on local[<cores>] in this process,
builds the workload's inputs from ``--seed``, runs one cold operation,
then repeats the operation for ``--seconds`` (at least twice) and checks
every output.
With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` one extra operation runs with spans and Spark's event
log on, and the line reports the per-layer metrics instead.  The line
before it records the settings, input stats, every wall and every check.
Everything the run writes lives under ``.perfbench/`` in the working
directory and is removed at exit.  See NOTES.md for the workloads.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SIZES = {
    "full": {"skewed_channels": {"n_base": 100}, "query_catalogue": {"n_docs": 5000, "n_vecs": 2000}},
    "toy": {"skewed_channels": {"n_base": 30}, "query_catalogue": {"n_docs": 200, "n_vecs": 100}},
}
#: the hot-prefix skew fixture and a high duplicate share
SKEW = {"hot_prefix_frac": 0.3, "dup_frac": 0.5}
#: the query-only operators: ann, decontaminate, spandedup, pack, sample
#: (Bernoulli and quota), quality, topk and pii
CATALOGUE = [
    "ann_topk", "decontaminated", "span_dedup_docs", "pack_plan", "mixture_sample",
    "quota_sample", "repetition_filter", "top_terms_by_source", "pii_redact",
]
#: set-up is repeated this many times per run and reported as the median
INPUT_BUILDS = 3
#: the measured window runs for --seconds and never fewer operations
WINDOW_OPS = 2
DRIVER_MEM = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class PeakRss:
    """Peak summed RSS of this process and its descendant JVM and Python
    processes (the driver JVM and its Python workers), sampled from
    /proc.  Other descendants are skipped: a helper the JVM spawns shares
    the JVM's address space until it execs, so its RSS would count the
    whole heap twice."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s, self.peak_kb = period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def _sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/comm") as f:
                    counted = f.read().startswith(("java", "python"))
                if counted:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page_kb
            except (OSError, IndexError, ValueError):
                pass
            stack.extend(children.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def start_session(rundir: str, cores: int, extra: dict):
    from wdedup_spark.session import spark_session

    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(rundir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: peak RSS then moves with off-heap and
        # Python-worker memory, not with when the JVM chose to grow its heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        ),
        **extra,
    }
    spark = spark_session(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM and wait for it to exit
    (its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def warm(spark, cores: int) -> None:
    """JVM codegen and the Python worker pool, once per session."""
    from pyspark.sql.functions import pandas_udf

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    @pandas_udf("long")
    def _ident(x):
        return x

    spark.range(1000, numPartitions=cores).select(_ident("id")).write.format("noop").mode(
        "overwrite"
    ).save()


class SkewedChannels:
    """``run_pipeline`` with every optional channel on (prefix,
    containment, edit verify) over hot-prefix transcripts.  The sign
    stage's commit granularity is scaled to the input so that the
    production ``run_ranged`` path runs, with 2 ranges, as it does from
    40k conversations up at the default granularity."""

    def __init__(self, spark, rundir: str, size: dict, seed: int) -> None:
        self.spark, self.rundir, self.size, self.seed = spark, rundir, size, seed
        self.n_ops = 0

    def build_input(self):
        import inputs
        from wdedup_spark.plans.pipeline import PipelineConfig

        self.res, self.stats = inputs.transcripts(self.seed, self.size["n_base"], **SKEW)
        self.turns = inputs.materialise_transcripts(
            self.spark, self.res, os.path.join(self.rundir, "input"), 2 * _cores()
        )
        self.cfg = PipelineConfig(
            enable_prefix=True, enable_containment=True, verify_edit=True,
            sync_min_rows_per_range=self.stats["convs"] // 2,
        )
        return self.stats["turns"]

    def prepare_checks(self) -> None:
        import checks

        self.truth = checks.truth_components(self.res.transcripts, self.res.oracle_pairs)

    def op(self) -> dict:
        """One pipeline run in a fresh workdir; returns its wall and check."""
        import checks
        from wdedup_spark.plans.pipeline import run_pipeline

        self.n_ops += 1
        wd = os.path.join(self.rundir, f"work-{self.n_ops}")
        try:
            t0 = time.perf_counter()
            out = run_pipeline(self.spark, self.turns, wd, self.cfg)
            wall = time.perf_counter() - t0
            self.ledger = out["ledger"]
            clusters = out["clusters"].toPandas()
        finally:
            shutil.rmtree(wd, ignore_errors=True)
        chk = checks.recall_precision(clusters, self.res.oracle_pairs, self.truth)
        return {"wall_s": wall, "attempted": 1, "failed": 0 if chk["ok"] else 1, "check": chk}

    def traced_op(self, spans) -> dict:
        with spans.around_ledger():
            return self.op()

    def ratios(self) -> dict:
        from wdedup_spark.operators import cluster

        rows = {e["stage"]: e["rows"] for e in self.ledger.entries if "rows" in e}
        return {
            "exact.survivor_ratio": rows["exact"] / rows["assemble"] if rows.get("assemble") else 0.0,
            "verify.pass_rate": rows["verify"] / rows["candidates"] if rows.get("candidates") else 0.0,
            "cluster.rounds": float(cluster.LAST_RUN_INFO.get("rounds", 0)),
        }


class QueryCatalogue:
    """One pass over the query-only operators of the query catalogue.
    Each query's result is collected and its digest compared with the
    digest of the catalogue's DuckDB oracle SQL on the same tables."""

    def __init__(self, spark, rundir: str, size: dict, seed: int) -> None:
        self.spark, self.rundir, self.size, self.seed = spark, rundir, size, seed

    def build_input(self):
        import inputs

        tables, self.stats = inputs.catalogue_tables(self.seed, self.size["n_docs"], self.size["n_vecs"])
        self.data_dir = inputs.materialise_tables(tables, os.path.join(self.rundir, "tables"))
        # read once, so materialising includes Spark's first scan of each table
        for name in tables:
            self.spark.read.parquet(os.path.join(self.data_dir, f"{name}.parquet")).count()
        return self.stats["documents"] + self.stats["embeddings"]

    def prepare_checks(self) -> None:
        """Expected digests, from the oracle SQL run in DuckDB."""
        import duckdb

        import __spark_entry__ as entry
        import checks

        oracle = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
                )
            self.expected = {n: checks.digest(con.execute(oracle[n]).fetchdf()) for n in CATALOGUE}
        finally:
            con.close()

    def op(self, spans=None) -> dict:
        import __spark_entry__ as entry
        import checks

        qs = entry.queries()
        per, bad = {}, []
        for name in CATALOGUE:
            q0 = time.perf_counter()
            try:
                with spans.span(f"q.{name}") if spans else contextlib.nullcontext():
                    got = qs[name](self.spark, self.data_dir).toPandas()
                per[name] = time.perf_counter() - q0
                ok = checks.digest(got) == self.expected[name]
            except Exception:
                traceback.print_exc(file=sys.stderr)
                per[name], ok = time.perf_counter() - q0, False
            if not ok:
                bad.append(name)
        # the pass wall excludes the digests, which are the benchmark's work
        return {"wall_s": sum(per.values()), "attempted": len(CATALOGUE), "failed": len(bad),
                "per_query": per, "check": {"mismatched": bad}}

    def traced_op(self, spans) -> dict:
        return self.op(spans)

    def ratios(self) -> dict:
        return {}


WORKLOADS = {"skewed_channels": SkewedChannels, "query_catalogue": QueryCatalogue}


def run(args) -> tuple[dict, dict]:
    cores = _cores()
    size = SIZES[args.size][args.workload]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    rundir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    os.environ["TMPDIR"] = os.path.join(rundir, "tmp")
    # no hsperfdata files in /tmp from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    settings = {
        "master": f"local[{cores}]",
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "size": args.size,
        **size,
        "input_builds": INPUT_BUILDS,
        "window_ops": WINDOW_OPS,
    }
    import layers as tr

    events = tr.EventLog(os.path.join(rundir, "eventlog")) if args.trace else None
    if events:
        os.makedirs(events.dir)
    ops: list[dict] = []
    cpu0 = _cpu_jiffies()
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_session(rundir, cores, events.conf() if events else {})
            session_s = time.perf_counter() - t0
            try:
                if events:
                    events.bind(spark)
                    events.detach()
                t0 = time.perf_counter()
                warm(spark, cores)
                warm_s = time.perf_counter() - t0
                wl = WORKLOADS[args.workload](spark, rundir, size, args.seed)
                input_walls = []
                for _ in range(INPUT_BUILDS):
                    t0 = time.perf_counter()
                    n_rows = wl.build_input()
                    input_walls.append(time.perf_counter() - t0)
                wl.prepare_checks()

                def attempt(fn) -> dict:
                    t0 = time.perf_counter()
                    try:
                        r = fn()
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
                        r = {"wall_s": time.perf_counter() - t0, "attempted": 1, "failed": 1,
                             "check": {"error": True}}
                    ops.append(r)
                    return r

                attempt(wl.op)  # cold: the first operation of the session
                t_end = time.perf_counter() + args.seconds
                for i in itertools.count(1):
                    attempt(wl.op)
                    if i >= WINDOW_OPS and time.perf_counter() >= t_end:
                        break
                traced = None
                if events:
                    spans = tr.Spans()
                    events.attach()
                    start_ms = tr.now_ms()
                    traced = attempt(lambda: wl.traced_op(spans))
                    end_ms = tr.now_ms()
                    ratios = wl.ratios()
            finally:
                stop_session(spark)
        cpu1 = _cpu_jiffies()
        # the hypervisor's share of CPU time taken from this machine during
        # the run: the usual cause when a whole run reads slow
        steal_share = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        walls = [o["wall_s"] for o in ops[1:len(ops) - (1 if events else 0)]]
        wall_s = statistics.median(walls)
        setup_parts = {
            "setup.session_s": session_s,
            "setup.warm_s": warm_s,
            "setup.input_s": statistics.median(input_walls),
        }
        if events:
            jobs, tasks = events.read()
            metrics = {
                **tr.layer_metrics(spans.spans, jobs, tasks, cores),
                **dict.fromkeys(["exact.survivor_ratio", "verify.pass_rate", "cluster.rounds"], 0.0),
                **ratios,
                **tr.window_totals(jobs, tasks, start_ms, end_ms),
                **setup_parts,
                **{f"q.{n}.wall_s": traced.get("per_query", {}).get(n, 0.0) for n in CATALOGUE},
                **_check_metrics(traced),
                # against the operation just before it: the window median
                # would also count the warm-up the operations still make
                "trace.overhead_s": traced["wall_s"] - ops[-2]["wall_s"],
            }
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = {
                "setup_s": sum(setup_parts.values()),
                "cold_wall_s": ops[0]["wall_s"],
                "wall_s": wall_s,
                "rows_per_s": n_rows / wall_s,
                "peak_rss_mb": rss.peak_mb,
            }
            units = {"setup_s": "s", "cold_wall_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
                     "peak_rss_mb": "MB"}
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "settings": settings, "steal_share": steal_share,
            "input": wl.stats,
            "setup": setup_parts, "input_walls": input_walls,
            "ops": ops,
        }
        attempted = sum(o["attempted"] for o in ops)
        failed = sum(o["failed"] for o in ops)
        return detail, {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK)


def _check_metrics(op: dict) -> dict:
    """check.recall / check.precision of the traced operation; on the
    catalogue both read the share of queries whose digest matched."""
    chk = op.get("check", {})
    if "recall" in chk:
        return {"check.recall": chk["recall"], "check.precision": chk["precision"]}
    share = 1.0 - len(chk.get("mismatched", CATALOGUE)) / len(CATALOGUE)
    return {"check.recall": share, "check.precision": share}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("ratio", "rate", "recall", "precision")):
        return "ratio"
    return "count"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="input size; 'toy' is for the benchmark's own smoke test")
    args = p.parse_args()
    try:
        sys.path.insert(0, ROOT)
        import wdedup_spark.plans.pipeline  # noqa: F401  (the engine must be importable)
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    detail, result = run(args)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
