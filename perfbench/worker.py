"""One Spark process of the benchmark (started by ``run.py``).

``--probe`` sets the session up, warms it and exits: one sample of the
set-up time. Otherwise the process sets up the same way, runs the
workload's passes in a closed loop for ``--seconds`` of timed work,
checks every unit's output and writes a JSON result to ``--out``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import time
from pathlib import Path

from spans import Tracer, unit_layers, with_self_time

PROCESS_START = time.time()

# Fits a 4-core, 15 GB box (get_spark's 16g default does not). The heap
# and the young generation have fixed sizes: when G1 grows them on its
# own, the peak RSS depends on GC timing and spreads by about 20%.
HEAP = "3g"
YOUNG = "1g"

HEAVY_QUERIES = ("describe_stats", "dedup_clusters")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return size, files


class Session:
    """The Spark session, set up through ``get_spark`` and warmed."""

    def __init__(self, tmp: str):
        from dw_etl_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{nproc}]"
        self.spark = get_spark(
            app_name="perfbench",
            master=self.master,
            shuffle_partitions=nproc,
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn{YOUNG}",
            },
        )
        self.started = time.time()
        self._warm()
        self.ready = time.time()
        # worker start until get_spark returns: pyspark import, JVM, session
        self.start_s = self.started - PROCESS_START
        self.warm_s = self.ready - self.started

    def _warm(self) -> None:
        """Import the query registry and run one warm-up job."""
        import __spark_entry__  # noqa: F401
        from pyspark.sql import functions as F

        self.spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")) \
            .count().write.format("noop").mode("overwrite").save()

    def stamps(self) -> dict:
        import pyspark

        jvm = self.spark._jvm
        return {
            "master": self.master,
            "heap": HEAP,
            "young_gen": YOUNG,
            "heap_max_bytes": jvm.java.lang.Runtime.getRuntime().maxMemory(),
            "java_version": jvm.java.lang.System.getProperty("java.version"),
            "pyspark_version": pyspark.__version__,
        }

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of input
            proc.wait(timeout=60)


def release_pins(spark) -> None:
    """Drop every pinned block, as ``bench.py:_reset_cached_state`` does."""
    spark.catalog.clearCache()
    gc.collect()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def pin_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# ---------------------------------------------------------------- units


def pipeline_units(spark, tracer, data: str, tmp: str):
    """One unit per pass: extract -> build_star_schema -> validated load."""
    from dw_etl_spark.plans.star_schema import build_star_schema
    from dw_etl_spark.sinks.warehouse import (
        ForeignKey, ParquetWarehouse, TableSpec, load_star_schema)

    def unit(pass_no: int) -> str:
        wh = os.path.join(tmp, f"warehouse-{pass_no}")
        with tracer.span("plans.build"):
            star = build_star_schema(spark, data)
        specs = {name: TableSpec(name, primary_key=["Id"]) for name in star}
        specs["FACT_LineItem"].foreign_keys = [
            ForeignKey(["DateId"], "DIM_Date", ["Id"])]
        with tracer.span("sinks.load"):
            load_star_schema(ParquetWarehouse(spark, wh), star, specs,
                             fact_name="FACT_LineItem")
        return wh

    return [("pipeline", unit)]


def query_units(spark, tracer, data: str, names):
    """One unit per query: construct the DataFrame, then a noop write."""
    import __spark_entry__ as entry

    registry = entry.queries()

    def make(fn):
        def unit(pass_no: int):
            with tracer.span("entry.construct"):
                df = fn(spark, data)
            if tracer.enabled:
                with tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec.write"):
                df.write.format("noop").mode("overwrite").save()
            return df
        return unit

    return [(name, make(registry[name])) for name in names]


# ----------------------------------------------------------------- main


def run_workload(sess: Session, workload: str, data: str, seconds: float,
                 traced: bool, tmp: str) -> dict:
    import check  # after set-up: it imports DuckDB and the test helpers

    spark = sess.spark
    tracer = Tracer(spark, traced)
    if traced:
        tracer.add("session.start", PROCESS_START, sess.started, "setup")
        tracer.add("session.warm", sess.started, sess.ready, "setup")
    pipeline = workload.startswith("pipeline")
    if pipeline:
        units = pipeline_units(spark, tracer, data, tmp)
    else:
        units = query_units(spark, tracer, data, HEAVY_QUERIES)

    results: list[dict] = []  # one per unit run
    outputs: list = []  # what the check compares, per unit run
    passes: list[float] = []
    while not passes or sum(passes) < seconds:
        pass_no = len(passes)
        pass_s = 0.0
        for name, unit in units:
            uid = f"p{pass_no}:{name}"
            tracer.mark()
            spark.sparkContext.setJobGroup(uid, uid)
            error = out = None
            t0 = time.perf_counter()
            try:
                with tracer.span("unit", unit=uid):
                    out = unit(pass_no)
            except Exception as exc:  # a failed unit counts, the run goes on
                error = f"{type(exc).__name__}: {str(exc)[:300]}"
            dt = time.perf_counter() - t0
            pass_s += dt
            rec = {"unit": uid, "name": name, "pass": pass_no, "seconds": dt,
                   "pins_left": pin_count(spark), "error": error}
            tracer.read_jobs(uid)
            if error is None and pipeline:
                rec["bytes_written"], rec["files_written"] = _dir_usage(out)
            elif error is None:
                t_collect = time.perf_counter()
                try:
                    out = check.normalize(out.toPandas())
                except Exception as exc:
                    rec["error"] = f"collect: {type(exc).__name__}: {str(exc)[:300]}"
                    out = None
                rec["collect_s"] = time.perf_counter() - t_collect
            outputs.append(out)
            results.append(rec)
            release_pins(spark)
        passes.append(pass_s)
    peak_rss = sess.peak_rss_mb()
    t_check = time.perf_counter()
    oracles = check.Oracles(data)
    for rec, out in zip(results, outputs):
        if rec["error"] is not None:
            continue
        try:
            if pipeline:
                rec["error"] = oracles.warehouse_mismatch(out)
                shutil.rmtree(out)
            else:
                rec["error"] = oracles.mismatch(rec["name"], out)
        except Exception as exc:
            rec["error"] = f"check: {type(exc).__name__}: {str(exc)[:300]}"

    out = {
        "passes": passes,
        "units": results,
        "peak_rss_mb": peak_rss,
        "oracle_check_s": time.perf_counter() - t_check,
        "stamps": sess.stamps(),
    }
    if traced:
        out["layers"] = layer_metrics(tracer, results)
        out["spans"] = with_self_time(tracer.spans)
        out["jobs"] = tracer.jobs
    return out


def layer_metrics(tracer, results: list[dict]) -> dict:
    """Per-layer metrics: each is summed over a pass's units, then the
    median over passes is taken."""
    per_pass: dict[int, dict[str, float]] = {}
    coverage = []
    for rec in results:
        layers = unit_layers(tracer.spans, tracer.jobs, rec["unit"])
        coverage.append(layers.pop("coverage"))
        layers["pins_left"] = rec["pins_left"]
        layers["sinks.bytes_written"] = rec.get("bytes_written", 0)
        layers["sinks.files_written"] = rec.get("files_written", 0)
        own = {"construct_s": layers["entry.construct_s"],
               "construct_jobs": layers["entry.construct_jobs"],
               "execute_s": layers["exec.execute_s"],
               "jobs": layers["exec.jobs"],
               "pins_left": rec["pins_left"]}
        for q in HEAVY_QUERIES:  # zero on units of other queries
            for k, v in own.items():
                layers[f"{q}.{k}"] = v if q == rec["name"] else 0
        acc = per_pass.setdefault(rec["pass"], {})
        for k, v in layers.items():
            acc[k] = acc.get(k, 0) + v
    keys = sorted({k for acc in per_pass.values() for k in acc})
    out = {k: statistics.median(acc.get(k, 0) for acc in per_pass.values())
           for k in keys}
    out["trace.pass_s"] = out.pop("unit_s")
    out["trace.overhead_s"] = out.pop("overhead_s")
    out["trace.coverage_min"] = min(coverage)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--data")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()

    sess = Session(a.tmp)
    result = {"ready": sess.ready, "start_s": sess.start_s, "warm_s": sess.warm_s}
    try:
        if not a.probe:
            result.update(run_workload(sess, a.workload, a.data, a.seconds,
                                       bool(a.trace), a.tmp))
    finally:
        sess.stop()
    Path(a.out).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
