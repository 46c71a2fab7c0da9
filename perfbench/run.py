"""Seeded benchmark of the star-schema pipeline and the heavy query set.

Run from the root of a checkout:

    python3 perfbench/run.py --workload heavy_sf0.01 --seed 7 --seconds 5 --trace 0

One client, closed loop, on ``local[nproc]``. The inputs are generated
from ``--seed`` with ``tools/gen_sf.py:gen``; the engine reads only
those files. The set-up time is sampled ``SETUP_SAMPLES`` times, each in
a fresh process (interpreter, JVM, ``get_spark``, query-registry
import, one warm-up job); the last sample's process then runs whole
passes of the workload until ``--seconds`` of timed work are done, and
checks every unit's output against its DuckDB oracle outside the timed
region. At the run length in ``BENCHMARK.json`` a run is one pass on
either workload: the first pass after set-up, which is what a batch
ETL run or a fresh analyst session pays. Later passes of one process
speed up as the JIT warms, so a run-length-dependent mix of first and
later passes would make the median bimodal.

The last line of stdout is the result: ``correct``, ``attempted`` and
``failed`` units, and the metrics named in ``BENCHMARK.json``:
end-to-end ones with ``--trace 0``, per-layer ones with ``--trace 1``.
The line before it is the run record (seed, input sizes, machine stamps,
per-pass times, error rate). The full record, with spans and per-job
counters, is written under ``.perfbench/runs/``; everything else the run
writes goes to a work directory under ``.perfbench/`` that is
removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
WORKER = Path(__file__).resolve().parent / "worker.py"

# workload -> scale factor of its generated inputs
WORKLOADS = {"pipeline_sf0.05": 0.05, "heavy_sf0.01": 0.01}
# set-up samples per run, the last one being the measured process; each
# costs a JVM start and warm-up, about a quarter of a run's wall time
SETUP_SAMPLES = 2
# the whole run, set-up samples included, must end well inside 180 s
DEADLINE_S = 170
# inputs build_star_schema reads, the base of the stored-bytes ratio
PIPELINE_INPUTS = ("lineitem", "orders", "part", "events")
# the repository files the benchmark drives
REQUIRED = ("BENCHMARK.json", "__spark_entry__.py", "dw_etl_spark/__init__.py",
            "tools/gen_sf.py", "tests/conftest.py")


class RunFailed(Exception):
    pass


def _become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM and its Python workers) so
    that the run can wait for every process it started."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    pids = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            state_ppid = stat.read_text().rsplit(")", 1)[1].split()[:2]
        except (OSError, IndexError):
            continue
        if state_ppid[1] == me:
            pids.append(int(stat.parent.name))
    return pids


def _reap(deadline: float) -> None:
    """Wait until no child is left, killing what is left after the deadline.

    Spark's Python daemon moves to its own process group, so survivors
    are found by parent pid, not by group."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def _child_env(tmp: Path) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        TMPDIR=str(tmp),
        # every JVM, the launcher's included, keeps its files in tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def _run_worker(args: list[str], env: dict, out: Path, end: float) -> dict:
    """One worker process; its set-up time is launch until warm."""
    launched = time.time()
    proc = subprocess.Popen(
        [sys.executable, str(WORKER), "--out", str(out), *args],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, end - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RunFailed("worker process passed the run deadline")
    finally:
        _reap(time.monotonic() + 30)
    if proc.returncode != 0:
        raise RunFailed(f"worker process exited with {proc.returncode}")
    result = json.loads(out.read_text())
    result["setup_s"] = result["ready"] - launched
    return result


def _generate(sf: float, seed: int, out: Path) -> dict:
    sys.path.insert(0, str(ROOT))
    import pyarrow.parquet as pq

    from tools.gen_sf import gen

    t0 = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        gen(sf, str(out), seed)
    tables = {}
    for path in sorted(out.glob("*.parquet")):
        tables[path.stem] = {"rows": pq.read_metadata(path).num_rows,
                             "bytes": path.stat().st_size}
    return {"seed": seed, "sf": sf, "gen_s": time.perf_counter() - t0,
            "tables": tables,
            "input_bytes": sum(t["bytes"] for t in tables.values())}


def _end_to_end(samples: list[dict], measured: dict) -> dict:
    return {
        "setup_s": statistics.median(s["setup_s"] for s in samples),
        "pass_s": statistics.median(measured["passes"]),
        "peak_rss_mb": measured["peak_rss_mb"],
    }


def _per_layer(samples: list[dict], measured: dict, inputs: dict) -> dict:
    layers = dict(measured["layers"])
    layers["session.start_s"] = statistics.median(s["start_s"] for s in samples)
    layers["session.warm_s"] = statistics.median(s["warm_s"] for s in samples)
    read = sum(inputs["tables"][t]["bytes"] for t in PIPELINE_INPUTS)
    layers["sinks.stored_bytes_ratio"] = layers["sinks.bytes_written"] / read
    return layers


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metric_specs = spec["per_layer" if trace else "end_to_end"]
    start = time.monotonic()
    end = start + DEADLINE_S
    loadavg_before = os.getloadavg()
    work = STATE / f"work-{workload}-{seed}-{os.getpid()}"
    tmp, data = work / "tmp", work / "data"
    tmp.mkdir(parents=True)
    _become_subreaper()
    try:
        inputs = _generate(WORKLOADS[workload], seed, data)
        env = _child_env(tmp)
        samples = [
            _run_worker(["--tmp", str(tmp), "--probe"], env,
                        work / f"probe{i}.json", end)
            for i in range(SETUP_SAMPLES - 1)
        ]
        measured = _run_worker(
            ["--tmp", str(tmp), "--workload", workload, "--data", str(data),
             "--seconds", str(seconds), "--trace", str(trace)],
            env, work / "main.json", end)
        samples.append(measured)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = (_per_layer(samples, measured, inputs) if trace
              else _end_to_end(samples, measured))
    missing = [m["name"] for m in metric_specs if m["name"] not in values]
    if missing:
        raise RunFailed(f"metrics not measured: {missing}")
    units = measured["units"]
    failed = [u for u in units if u["error"] is not None]
    record = {
        "workload": workload, "trace": trace, "inputs": inputs,
        "stamps": dict(measured["stamps"], nproc=len(os.sched_getaffinity(0)),
                       loadavg_before=loadavg_before,
                       loadavg_after=os.getloadavg()),
        "setup_samples_s": [s["setup_s"] for s in samples],
        "passes_s": measured["passes"],
        "oracle_check_s": measured["oracle_check_s"],
        "error_rate": len(failed) / len(units),
        "failures": [{"unit": u["unit"], "error": u["error"]} for u in failed],
        "units": units,
        "wall_s": time.monotonic() - start,
    }
    result = {
        "correct": not failed,
        "attempted": len(units),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metric_specs},
    }
    runs = STATE / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    full = dict(record, result=result, spans=measured.get("spans"),
                jobs=measured.get("jobs"))
    (runs / f"{workload}-seed{seed}-trace{trace}.json").write_text(json.dumps(full))
    return record, result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        sys.exit(f"perfbench: not a checkout of the engine, missing {missing}")
    try:
        record, result = run(a.workload, a.seed, a.seconds, a.trace)
    except RunFailed as exc:
        sys.exit(f"perfbench: {exc}")
    summary = {k: v for k, v in record.items() if k != "units"}
    print(json.dumps({"run_record": summary}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
