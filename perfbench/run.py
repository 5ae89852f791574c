"""End-to-end benchmark of cosmospark's two jobs, with a traced run.

    python3 perfbench/run.py --workload generate_lux --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads (see README.md):

* ``generate_lux`` — each job is a fresh ``python -m cosmospark
  generate`` process over a seeded lux ``.osm.pbf``, as users run it.
* ``assign_broadcast`` — ``assign.encode_and_assign`` →
  ``write_assignments`` → per-zone rollup over a skewed point table
  against the detailed lux zones; warm, in one session.

Every job is checked (``checks.py``); the loop is closed, one job after
the other, at ``local[<cpus>]``. ``--trace 0`` prints the end-to-end
metrics. ``--trace 1`` sets up as an untraced run does and runs one
job the untraced way, then the same job stage by stage through public
functions, in the same conditions, with a span around each layer call.
It prints the per-layer metrics (a layer the workload never calls
reads 0) plus ``trace.overhead_s``: traced job time minus the untraced
job's. The last line of stdout is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = len(os.sched_getaffinity(0))
MASTER = f"local[{CPUS}]"

SETUP_REPS = 7  # input generation runs this often per run; setup_s takes the median
SAMPLE_ROWS = 2000  # rows per assignment check
KERNEL_ROWS = 200_000  # fixed batch of the in-process kernel metrics

LUX_FILLER_NODES, LUX_FILLER_WAYS = 60_000, 12_000
LUX_VERTICES = 512
BROADCAST_POINTS = 500_000
JOB_TIMEOUT_S = 170
GENERATE_ENV = {"COSMOSPARK_DRIVER_MEM": "4g"}  # the generate CLI's session heap

# per-layer metrics of the traced run: span name → counts it reports
LAYERS = {
    "pbf.read_osm_pbf": ["wall_s", "jobs", "py_cpu_s", "rows_out", "mb_per_s"],
    "assembly.extract_zones_from_osm": ["wall_s", "jobs", "shuffle_bytes", "py_cpu_s", "rows_out"],
    "pipeline.prep": ["wall_s", "jobs", "py_cpu_s"],
    "hierarchy.find_inclusions": ["wall_s", "jobs", "shuffle_bytes", "py_cpu_s", "rows_out"],
    "typer.type_zones": ["wall_s", "jobs", "shuffle_bytes"],
    "hierarchy.build_hierarchy": ["wall_s", "jobs", "shuffle_bytes"],
    "labels.compute_labels": ["wall_s", "jobs", "shuffle_bytes"],
    "pipeline.write_zones": ["wall_s", "bytes_written"],
    "assign.build_zone_index": ["wall_s", "cells", "full_frac"],
    "assign.encode_and_assign": ["wall_s", "tasks", "exec_cpu_s", "py_cpu_s", "gc_s", "task_skew"],
    "assign.write_assignments": ["wall_s", "bytes_written", "files", "partitions"],
    "assign.rollup": ["wall_s", "shuffle_bytes"],
}
KERNELS = [
    "assign.kernel_rows_per_s", "assign.candidates_per_row", "assign.full_frac",
    "cells.encode_rows_per_s",
]
# spans reported by their wall time alone, under the span's name
PHASES = ["process.start_s", "session.start_s", "session.stop_s"]
UNITS = {
    "wall_s": "s", "py_cpu_s": "s", "exec_cpu_s": "s", "gc_s": "s", "jobs": "count",
    "tasks": "count", "rows_out": "count", "cells": "count", "files": "count",
    "partitions": "count", "mb_per_s": "MB/s", "shuffle_bytes": "B", "bytes_written": "B",
    "full_frac": "ratio", "task_skew": "ratio", "spark.jobs_total": "count",
    "assign.kernel_rows_per_s": "rows/s", "assign.candidates_per_row": "ratio",
    "assign.full_frac": "ratio", "cells.encode_rows_per_s": "rows/s", "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, parquet/json data files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith((".parquet", ".json"))
    return total, files


def median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# Spark session lifetime


def start_spark(app: str):
    from cosmospark.session import get_spark

    spark = get_spark(
        app_name=app,
        master=MASTER,
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "6g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait for every process under
    this one (the JVM and its Python workers) to exit."""
    import procstat
    from pyspark import SparkContext

    tree = procstat.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstat.reap(tree)


# ---------------------------------------------------------------------------
# Workload: generate_lux


class GenerateLux:
    name = "generate_lux"
    fact_path = False  # no fact-side kernel metrics in its traced run

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.pbf = os.path.join(work, "lux.osm.pbf")
        self.out = os.path.join(work, "out.jsonl")
        self.n_input = 0

    def make_inputs(self) -> None:
        import inputs

        counts = inputs.write_lux_pbf(self.pbf, self.seed, LUX_FILLER_NODES, LUX_FILLER_WAYS)
        self.n_input = sum(counts.values())

    def spawn(self, cmd: list[str]) -> dict:
        """Run ``cmd`` in the work dir with the generate CLI's
        environment, timed from spawn to exit, its process tree sampled
        → {job_s, cpu_s, py_cpu_s, peak_worker_rss_mb, rc}."""
        import procstat

        env = dict(os.environ, **GENERATE_ENV)
        with open(os.path.join(self.work, "generate.log"), "ab") as fh:
            t0 = time.perf_counter()
            p = subprocess.Popen(cmd, cwd=self.work, env=env, stdout=fh, stderr=fh)
            with procstat.TreeSampler(root=p.pid) as s:
                mark = s.mark()
                try:
                    rc = p.wait(JOB_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    p.kill()
                    rc = p.wait()
                wall = time.perf_counter() - t0
                w = s.window(mark)
            procstat.reap(s.seen)
        return {"job_s": wall, **w, "rc": rc}

    def run_cli_job(self) -> dict:
        """One ``generate`` process, as users run it."""
        r = self.spawn([
            sys.executable, "-m", "cosmospark", "generate", "-i", self.pbf, "-o", self.out,
            "--disable-voronoi", "--num-threads", str(CPUS),
        ])
        r["errors"] = [f"generate exited {r['rc']}"] if r["rc"] else self.check()
        return r

    def read_output(self) -> list[dict]:
        rows = []
        for name in sorted(os.listdir(self.out)):
            if name.endswith(".json"):
                with open(os.path.join(self.out, name), encoding="utf-8") as fh:
                    rows += [json.loads(line) for line in fh if line.strip()]
        return [{k: r.get(k) for k in ("id", "osm_id", "admin_level", "zone_type", "parent")} for r in rows]

    def check(self) -> list[str]:
        import checks

        try:
            return checks.check_zones(self.read_output())
        except (OSError, ValueError, KeyError) as e:
            return [f"output unreadable: {e!r}"]

    def untraced(self, seconds: float) -> tuple[float, list[dict]]:
        setup = median_time(self.make_inputs, SETUP_REPS)
        return setup, run_loop(self.run_cli_job, seconds)

    def traced(self, run_id: str) -> tuple[dict, float, list[str], list[dict]]:
        """One CLI job, then the same job stage by stage
        (``generate_staged.py``), spawned and timed the way a CLI job is
        → (the CLI job, staged job wall, its errors, spans)."""
        self.make_inputs()
        base = self.run_cli_job()
        spans_path = os.path.join(self.work, "spans.json")
        r = self.spawn([
            sys.executable, os.path.join(HERE, "generate_staged.py"), "--pbf", self.pbf,
            "--out", self.out, "--cpus", str(CPUS), "--spans", spans_path, "--run-id", run_id,
            "--spawned-at", repr(time.time()),
        ])
        if r["rc"]:
            raise RuntimeError(f"staged generate exited {r['rc']}")
        with open(spans_path) as fh:
            spans = json.load(fh)["spans"]
        return base, r["job_s"], self.check(), spans


# ---------------------------------------------------------------------------
# Workload: assign_broadcast


class AssignBroadcast:
    """A job from scan to landed table plus a rollup read back from it;
    a seeded sample of rows is checked against a truth that bypasses
    the cell index."""

    name = "assign_broadcast"
    n_input = BROADCAST_POINTS
    fact_path = True

    def __init__(self, seed: int, work: str):
        import numpy as np

        self.seed, self.work = seed, work
        self.points = os.path.join(work, "points")
        self.zones = os.path.join(work, "zones")
        self.out = os.path.join(work, "assigned")
        rng = np.random.default_rng(seed + 1)
        self.sample_idx = np.sort(rng.choice(self.n_input, SAMPLE_ROWS, replace=False))
        self._sample = self._truth = None

    def make_inputs(self) -> None:
        import inputs

        inputs.write_lux_points(self.points, self.seed, self.n_input)
        inputs.write_lux_zones(self.zones, LUX_VERTICES)

    def prepare_check(self) -> None:
        """The sampled input rows and their brute-force zones, computed
        once, before anything is timed (the inputs never change)."""
        import checks
        import inputs
        from cosmospark import fixtures

        lon, lat = inputs.lux_points(self.seed, self.n_input)
        i = self.sample_idx
        self._sample = {"pid": i, "lon": lon[i], "lat": lat[i]}
        zones = fixtures.detailed_lux_zones(LUX_VERTICES)
        self._truth = checks.brute_force_zone(lon[i], lat[i], zones)

    def landed_sample(self) -> dict[int, int]:
        """pid → zone_id of the sampled rows, read back from the landed
        table with pyarrow (no Spark job)."""
        import pyarrow.parquet as pq

        t = pq.read_table(
            self.out, columns=["pid", "zone_id"],
            filters=[("pid", "in", [int(p) for p in self.sample_idx])],
        )
        return dict(zip(t.column("pid").to_pylist(), t.column("zone_id").to_pylist()))

    def check(self, n_landed: int, rollup_total: int) -> list[str]:
        import checks

        return checks.check_lux_assign(
            self._sample, self.landed_sample(), self._truth, self.n_input, n_landed, rollup_total
        )

    @staticmethod
    def rollup(spark, path: str) -> int:
        rows = spark.read.parquet(path).groupBy("zone_id").count().collect()
        return sum(r["count"] for r in rows)

    def job(self, spark) -> tuple[dict, int]:
        """→ (write_assignments manifest, rollup total)."""
        from cosmospark import assign

        zones = spark.read.parquet(self.zones)
        out = assign.encode_and_assign(spark.read.parquet(self.points), zones)
        manifest = assign.write_assignments(out, self.out)
        return manifest, self.rollup(spark, self.out)

    def timed_job(self, spark, sampler) -> dict:
        mark = sampler.mark()
        t0 = time.perf_counter()
        try:
            manifest, total = self.job(spark)
        except Exception as e:  # a failed job counts in `failed`
            log(f"job failed: {e!r}")
            return {"job_s": time.perf_counter() - t0, **sampler.window(mark), "errors": [repr(e)]}
        wall = time.perf_counter() - t0
        w = sampler.window(mark)
        return {"job_s": wall, **w, "errors": self.check(manifest["n_rows"], total)}

    def warm_up(self, spark) -> None:
        """One untimed, unchecked job: it starts the Python workers and
        compiles the JVM's hot paths, and takes two to three times as
        long as a warm job. The jobs after it show no further trend."""
        self.job(spark)

    def untraced(self, seconds: float) -> tuple[float, list[dict]]:
        import procstat

        self.prepare_check()
        t0 = time.perf_counter()
        spark = start_spark(f"perfbench-{self.name}")
        session_s = time.perf_counter() - t0
        try:
            gen_s = median_time(self.make_inputs, SETUP_REPS)
            t0 = time.perf_counter()
            self.warm_up(spark)
            warm_s = time.perf_counter() - t0
            log(f"setup: session {session_s:.2f} s, inputs {gen_s:.2f} s, warm-up {warm_s:.2f} s")
            with procstat.TreeSampler() as sampler:
                jobs = run_loop(lambda: self.timed_job(spark, sampler), seconds)
        finally:
            stop_spark(spark)
        return session_s + gen_s + warm_s, jobs

    def traced(self, run_id: str) -> tuple[dict, float, list[str], list[dict]]:
        """Set up as the untraced run does, then one job as it is timed
        and one stage by stage, in the same session → (the timed job,
        traced job wall, its errors, spans)."""
        import procstat
        from spans import Tracer

        self.prepare_check()
        with procstat.TreeSampler() as sampler:
            tracer = Tracer(sampler, run_id=run_id)
            with tracer.span("session.start_s"):
                spark = start_spark(f"perfbench-{self.name}")
            try:
                self.make_inputs()
                self.warm_up(spark)
                base = self.timed_job(spark, sampler)
                tracer.spark = spark
                wall, n_landed, total = self.traced_job(spark, tracer)
                tracer.spark = None
            finally:
                stop_spark(spark)
        return base, wall, self.check(n_landed, total), tracer.spans

    def traced_job(self, spark, tracer) -> tuple[float, int, int]:
        """→ (job wall, landed rows, rollup total)."""
        from cosmospark import assign
        from spans import materialize

        t0 = time.perf_counter()
        with tracer.span("assign.build_zone_index"):
            # encode_and_assign compiles and broadcasts the zone index on
            # the driver when it is called, before any task starts
            zones = spark.read.parquet(self.zones)
            out = assign.encode_and_assign(spark.read.parquet(self.points), zones)
        with tracer.span("assign.encode_and_assign"):
            assigned = materialize(out)
        with tracer.span("assign.write_assignments") as c:
            m = assign.write_assignments(assigned, self.out)
            c["bytes_written"], c["files"] = dir_bytes(self.out)
            c["partitions"] = m["n_partitions"]
        with tracer.span("assign.rollup"):
            total = self.rollup(spark, self.out)
        wall = time.perf_counter() - t0
        # the index the job built, rebuilt outside the timed job to count it
        idx = assign.build_zone_index(zones)
        fulls = [f for res in idx.res_list for f in idx.csr[res][3]]
        tracer.add_counts(
            "assign.build_zone_index", cells=len(fulls), full_frac=sum(fulls) / max(len(fulls), 1)
        )
        return wall, m["n_rows"], total


WORKLOADS = {c.name: c for c in (GenerateLux, AssignBroadcast)}


# ---------------------------------------------------------------------------
# Run protocol


def run_loop(job, seconds: float) -> list[dict]:
    """Closed loop: start the next job only after the previous one ends,
    until ``seconds`` have passed (at least one job)."""
    out = []
    t_end = time.perf_counter() + seconds
    while True:
        out.append(job())
        log(f"job {len(out)}: {out[-1]['job_s']:.2f} s, errors {out[-1]['errors']}")
        if time.perf_counter() >= t_end:
            return out


def untraced_result(wl, seconds: float) -> dict:
    setup, jobs = wl.untraced(seconds)
    failed = sum(1 for j in jobs if j["errors"])
    job_s = statistics.median(j["job_s"] for j in jobs)
    metrics = {
        "job_s": (job_s, "s"),
        "rows_per_s": (wl.n_input / job_s, "rows/s"),
        "cpu_s": (statistics.median(j["cpu_s"] for j in jobs), "s"),
        "peak_worker_rss_mb": (statistics.median(j["peak_worker_rss_mb"] for j in jobs), "MB"),
        "setup_s": (setup, "s"),
    }
    return {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def kernel_metrics(seed: int) -> dict[str, float]:
    """Fact-side kernels in this process, one thread, on a fixed batch:
    ZoneIndex.assign and .candidates over the detailed lux zones, and
    the cell + tile encode."""
    import inputs
    from cosmospark import assign, cells, fixtures

    idx = assign.ZoneIndex(fixtures.detailed_lux_zones(LUX_VERTICES))
    lon, lat = inputs.lux_points(seed, KERNEL_ROWS)

    def best(fn, reps=3):
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            r = fn()
            times.append(time.perf_counter() - t0)
        return min(times), r

    t_assign, _ = best(lambda: idx.assign(lon, lat))
    _, (pts, _, full) = best(lambda: idx.candidates(lon, lat), reps=1)
    t_enc, _ = best(
        lambda: (cells.cell_encode(lon, lat, max(assign.DEFAULT_RESOLUTIONS)),
                 cells.tile_encode(lon, lat, assign.DEFAULT_TILE_Z))
    )
    return {
        "assign.kernel_rows_per_s": KERNEL_ROWS / t_assign,
        "assign.candidates_per_row": len(pts) / KERNEL_ROWS,
        "assign.full_frac": float(full.mean()) if len(full) else 0.0,
        "cells.encode_rows_per_s": KERNEL_ROWS / t_enc,
    }


def traced_result(wl, args) -> dict:
    """One untraced job, then the same job traced."""
    from spans import layer_metrics

    run_id = f"{args.workload}-seed{args.seed}"
    base, wall, errs, spans = wl.traced(run_id)
    kern = kernel_metrics(args.seed) if wl.fact_path else {}

    metrics: dict[str, tuple[float, str]] = {}
    jobs_total = 0
    for layer, fields in LAYERS.items():
        m = layer_metrics(spans, layer)
        jobs_total += m.get("jobs", 0)
        if "mb" in m:
            m["mb_per_s"] = m["mb"] / m["wall_s"]
        for f in fields:
            metrics[f"{layer}.{f}"] = (m.get(f, 0), UNITS[f])
    for phase in PHASES:
        metrics[phase] = (layer_metrics(spans, phase)["wall_s"], "s")
    metrics["spark.jobs_total"] = (jobs_total, "count")
    for k in KERNELS:
        metrics[k] = (kern.get(k, 0), UNITS[k])
    metrics["trace.overhead_s"] = (wall - base["job_s"], "s")

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    span_path = os.path.join(ROOT, ".perfbench", f"trace-{run_id}.json")
    with open(span_path, "w") as fh:
        json.dump({"run_id": run_id, "job_s": wall, "spans": spans}, fh, indent=1)
    log(f"traced job {wall:.2f} s against untraced job {base['job_s']:.2f} s; "
        f"spans written to {span_path}")
    for kind, e in (("untraced", base["errors"]), ("traced", errs)):
        if e:
            log(f"{kind} job failed its check: {e}")
    failed = bool(base["errors"]) + bool(errs)
    return {
        "correct": failed == 0,
        "attempted": 2,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cosmospark", "__init__.py")):
        log(f"no cosmospark package under {ROOT}: run from the root of a checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the JVM, the Python workers and the generate CLI write temporary
    # files only under the work dir, and import this checkout
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    try:
        wl = WORKLOADS[args.workload](args.seed, work)
        if args.trace:
            result = traced_result(wl, args)
        else:
            result = untraced_result(wl, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
