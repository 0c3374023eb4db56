"""One benchmark run in one process: set-up, closed-loop timed jobs, output
checks, and (with --trace 1) the per-layer pass.  Started by run.py, which
sets the environment; the last line on stdout is the result JSON."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import numpy as np
from pyspark import SparkContext
from pyspark.sql import DataFrame, functions as F

import workloads as W
from tosidewalk_spark.operators import lineage, spatial as SP
from tosidewalk_spark.session import get_spark

SETUPS = 3             # set-ups per run; setup_s is their median
DEADLINE_S = 135.0     # start no new timed job after this much wall time
MB = 1024.0 * 1024.0
KNN_PROBE = 2000       # points in pip-tiles' off-path kNN probe


class MemSampler:
    """Peak memory of this process's descendants (the JVM and any Python
    workers it forks), polled from /proc.  Each process counts its
    proportional set size, so pages shared after a fork are counted once.
    A child the JVM is spawning (Hadoop shells out for file permissions)
    shares the JVM's address space until it execs, so a process that still
    runs the JVM's binary under a JVM parent is not counted."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _descendants() -> set[int]:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # the command name may hold spaces; ppid follows its ")"
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        found, frontier = set(), [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in found]
            found.update(kids)
            frontier.extend(kids)

        def exe(pid: int) -> str:
            try:
                return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            except OSError:
                return ""

        jvm_binaries = ("java", "jspawnhelper")
        return {p for p in found
                if not (exe(p) in jvm_binaries and exe(parent[p]) == "java")}

    @staticmethod
    def _pss_bytes(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(self._pss_bytes(p) for p in self._descendants())
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.period_s)


class Tracer:
    """Spans around calls into the program's layers, plus Spark's task,
    shuffle, spill and GC counters attributed to each span through a job
    group.  Spans stay in memory until the run writes them out."""

    def __init__(self):
        self.spans: list[dict] = []
        self.times: dict[str, list[float]] = {}
        self.counters: dict[str, dict[str, float]] = {}
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, sc: SparkContext | None = None):
        sid = len(self.spans)
        group = f"{name}#{sid}"
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start_s": time.perf_counter() - self._t0}
        self.spans.append(rec)
        self._stack.append(sid)
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.times.setdefault(name, []).append(rec["end_s"] - rec["start_s"])
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._spark_counters(sc, group))
                acc = self.counters.setdefault(name, {})
                for k in ("jobs", "tasks", "failed_tasks", "gc_s", "shuffle_write_mb", "spill_mb"):
                    acc[k] = acc.get(k, 0) + rec[k]

    @staticmethod
    def _spark_counters(sc: SparkContext, group: str) -> dict[str, float]:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # stage evicted from the status store
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += sd.diskBytesSpilled() / MB
        return out

    def median(self, name: str) -> float:
        return statistics.median(self.times[name])


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, sc: SparkContext | None = None):
        yield


def noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Run:
    def __init__(self, args):
        self.args = args
        self.spec = W.SPECS[args.workload]
        self.pages_path = os.path.join(args.work, "pages.parquet")
        self.out_dir = os.path.join(args.work, "out")
        self.t_start = time.perf_counter()
        self.attempted = 0
        self.failures: list[str] = []
        self.tr = Tracer() if args.trace else NullTracer()
        self.spark = None
        self.sidewalks = self.cover = None
        self.input_sums: list[tuple[int, int]] = []
        self.checksums: list[str] = []
        self.setup_s: list[float] = []
        self.job_s: list[float] = []
        self.tiles: list[tuple] = []   # the last job's output

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t_start:7.1f}s] {msg}",
              file=sys.stderr, flush=True)

    @property
    def sc(self) -> SparkContext | None:
        return self.spark.sparkContext if self.args.trace else None

    def setup(self) -> None:
        """Session start + input generation + network -> sidewalks ->
        join cover, SETUPS times; all but the last session are stopped."""
        for k in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tr.span("session"):
                self.spark = get_spark(f"perfbench-{self.spec.name}")
            self.spark.sparkContext.setLogLevel("ERROR")
            with self.tr.span("input"):
                W.write_pages(self.spark, self.spec, self.args.seed, self.pages_path)
            with self.tr.span("network", self.sc):
                self.sidewalks = W.build_sidewalks(self.spark)
            with self.tr.span("spatial.buffers", self.sc):
                self.cover = W.build_cover(self.sidewalks, self.spec.join)
            self.setup_s.append(time.perf_counter() - t0)
            self.input_sums.append(W.input_checksum(self.spark, self.pages_path))
            self.log(f"setup {k}: {self.setup_s[-1]:.2f} s")
        self.attempted += 1
        if len(set(self.input_sums)) != 1 or self.input_sums[0][0] != self.spec.pages:
            self.failures.append(f"inputs not {self.spec.pages} pages, identical per seed: "
                                 f"{self.input_sums}")

    # --- jobs and their output checks -----------------------------------

    def attempt(self, label: str, job) -> tuple[float | None, bool]:
        """Run one job that returns the tiles and check them.  Returns the
        job's wall time (None if it raised) and whether it passed."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            tiles = job()
            dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.failures.append(f"{label}: raised")
            return None, False
        errors = W.check_tiles(tiles, self.spec.pages)
        self.tiles = tiles
        self.checksums.append(W.tiles_checksum(tiles))
        if self.checksums[-1] != self.checksums[0]:
            errors.append("output checksum differs from the first job's")
        if errors:
            self.failures.append(f"{label}: " + "; ".join(errors))
        return dt, not errors

    def job(self) -> list[tuple]:
        return W.run_job(self.spark, self.spec.join, self.pages_path, self.cover)

    def timed_loop(self) -> None:
        """Closed loop: one warm-up job, then jobs back to back until the
        run's seconds are spent.  job_s keeps the jobs that passed, or every
        job that ran when none passed (the result then reads incorrect)."""
        self.attempt("warm-up", self.job)
        ran: list[float] = []
        t_loop = time.perf_counter()
        while True:
            dt, ok = self.attempt(f"job {len(ran)}", self.job)
            if dt is not None:
                ran.append(dt)
                if ok:
                    self.job_s.append(dt)
            if (time.perf_counter() - t_loop >= self.args.seconds
                    or time.perf_counter() - self.t_start >= DEADLINE_S):
                break
        self.job_s = self.job_s or ran
        self.log(f"job_s {self.job_s}")

    def verify(self, points: DataFrame) -> list:
        """Checks against the numpy kernel's brute force: the join's rows for
        a seeded sample of points, and the last job's counts for a few
        seeded tiles.  Counts as one job."""
        self.attempted += 1
        join = self.spec.join
        try:
            seg = W.segments_array(self.sidewalks)
            sample_df = W.sample_points(points, self.spec.pages, self.args.seed).persist()
            sample = sample_df.collect()
            got = W.spatial_join(join, sample_df, self.cover).collect()
            sample_df.unpersist()
            errors = (W.check_pip if join == "pip" else W.check_knn)(sample, got, seg)
            cells9 = W.sample_cells(self.tiles, self.args.seed)
            cell_points = points.filter(F.col("cell9").isin(cells9)).collect()
            errors += W.check_cells(self.tiles, cell_points, seg, join)
        except Exception:
            traceback.print_exc()
            self.failures.append("verification: raised")
            return []
        if errors:
            self.failures.append("verification: " + "; ".join(errors))
        return sample

    # --- per-layer pass -------------------------------------------------

    def traced_pass(self, job_s: float) -> dict[str, float]:
        """Each layer's input cached, its output timed through a noop sink;
        then the tiles staged through the lineage writer and resumed after
        a seeded loss of partitions."""
        tr, sc, spark, m = self.tr, self.sc, self.spark, {}
        join_layer = f"spatial.{self.spec.join}"
        pages = spark.read.parquet(self.pages_path).persist()
        pages.count()
        with tr.span("synth", sc):
            noop(W.synth.geo_entities(spark, pages))
        points = W.synth.geo_entities(spark, pages).persist()
        m["synth.points_out"] = points.count()
        m["synth.distinct_locations"] = points.select("lat", "lng").distinct().count()
        with tr.span(join_layer, sc):
            noop(W.spatial_join(self.spec.join, points, self.cover))
        matches = W.spatial_join(self.spec.join, points, self.cover).persist()
        n_match = matches.count()
        matched_pts = matches.select("url", "entity").distinct().count()
        with tr.span("spatial.tiles", sc):
            noop(SP.coverage_tiles(points, matches))
        tiles = SP.coverage_tiles(points, matches).persist()
        m["spatial.tiles_cells"] = tiles.count()
        traced = sum(tr.times[n][-1] for n in ("synth", join_layer, "spatial.tiles"))
        m["trace.sum_s"] = traced
        m["trace.overhead_s"] = traced - job_s
        m.update(self.traced_lineage(tiles, traced))
        for df in (tiles, matches, pages):
            df.unpersist()
        if self.spec.join == "pip":
            m["spatial.pip_matches"] = n_match
            m["spatial.pip_match_ratio"] = matched_pts / m["synth.points_out"]
            m.update(self.off_path_knn(points))
        else:
            m["spatial.knn_rows_out"] = n_match
            m.update(self.off_path_pip(points))
        m.update(W.input_shares(points))
        points.unpersist()
        return m

    def traced_lineage(self, tiles: DataFrame, upstream_s: float) -> dict[str, float]:
        """Stage the cached tiles, lose a seeded share of the partitions,
        and resume with the whole job; both staged outputs are checked."""
        tr, sc, m = self.tr, self.sc, {}
        out = self.out_dir

        def stage() -> list[tuple]:
            shutil.rmtree(out, ignore_errors=True)
            with tr.span("lineage", sc):
                W.stage_tiles(self.spark, out, tiles)
            return W.read_staged_tiles(self.spark, out)

        self.attempt("staged", stage)
        m["lineage.stage_s.tiles"] = tr.times["lineage"][-1]
        m["lineage.bytes_written"] = W.dir_bytes(out)
        m["lineage.stored_bytes_per_page"] = m["lineage.bytes_written"] / self.spec.pages
        parts = len(lineage.stage_metrics(self.spark, out).collect())
        m["lineage.parts_written"] = parts
        lost = W.lose_partitions(out, np.random.default_rng([self.args.seed, 7]))
        m["lineage.parts_skipped"] = parts - lost

        def resume() -> list[tuple]:
            with tr.span("lineage.resume", sc):
                W.run_job(self.spark, self.spec.join, self.pages_path, self.cover,
                          sink=lambda t: W.stage_tiles(self.spark, out, t))
            return W.read_staged_tiles(self.spark, out)

        self.attempt("resume", resume)
        m["lineage.resume_s"] = tr.times["lineage.resume"][-1]
        fresh_s = upstream_s + m["lineage.stage_s.tiles"]
        m["lineage.recompute_ratio"] = m["lineage.resume_s"] / (fresh_s * lost / parts)
        return m

    def off_path_knn(self, points: DataFrame) -> dict[str, float]:
        """kNN is not on pip-tiles' path: time it on a seeded sample of
        KNN_PROBE of the same points."""
        every = max(1, self.spec.pages // KNN_PROBE)
        sample = points.filter(F.pmod(F.xxhash64("url"), F.lit(every)) == 0).persist()
        sample.count()
        seg_cells = W.build_cover(self.sidewalks, "knn")
        with self.tr.span("spatial.knn", self.sc):
            noop(SP.knn_join(sample, seg_cells, k=1))
        rows = SP.knn_join(sample, seg_cells, k=1).count()
        sample.unpersist()
        return {"spatial.knn_rows_out": rows}

    def off_path_pip(self, points: DataFrame) -> dict[str, float]:
        """PIP is not on knn-hotspot's path: time it on the same points."""
        buffers = W.build_cover(self.sidewalks, "pip")
        with self.tr.span("spatial.pip", self.sc):
            noop(SP.pip_join(points, buffers, cover_res=SP.PIP_COVER_RES))
        matches = SP.pip_join(points, buffers, cover_res=SP.PIP_COVER_RES)
        return {"spatial.pip_matches": matches.count(),
                "spatial.pip_match_ratio":
                    matches.select("url", "entity").distinct().count() / points.count()}

    def layer_metrics(self, m: dict[str, float], sample: list) -> dict[str, float]:
        tr = self.tr
        m["session.start_s"] = tr.median("session")
        m["network.build_s"] = tr.median("network")
        m["network.rows_out"] = self.sidewalks.count()
        m["spatial.buffers_s"] = tr.median("spatial.buffers")
        m["spatial.cover_cells"] = (self.cover.count() if self.spec.join == "knn" else
                                    self.cover.select(F.sum(F.size("cells"))).first()[0])
        m["synth.geocode_s"] = tr.times["synth"][-1]
        m["spatial.pip_s"] = tr.times["spatial.pip"][-1]
        m["spatial.knn_s"] = tr.times["spatial.knn"][-1]
        m["spatial.tiles_s"] = tr.times["spatial.tiles"][-1]
        m["input.knn_straggler_share"] = W.straggler_share(sample, W.segments_array(self.sidewalks))
        # engine counters; the set-up layers ran SETUPS times, so per set-up
        for layer in ("network", "spatial.buffers", "synth", "spatial.pip", "spatial.knn",
                      "spatial.tiles", "lineage"):
            acc = tr.counters[layer]
            per = SETUPS if layer in ("network", "spatial.buffers") else 1
            for k in ("tasks", "failed_tasks", "gc_s", "shuffle_write_mb", "spill_mb"):
                m[f"{layer}.{k}"] = acc[k] / per
        m["network.jobs"] = tr.counters["network"]["jobs"] / SETUPS
        return m

    def main(self) -> dict[str, float]:
        with MemSampler() as mem:
            self.setup()
            if self.args.trace:
                self.attempt("warm-up", self.job)
                job_s, _ = self.attempt("untraced", self.job)
                if job_s is None:
                    raise RuntimeError("untraced job raised: " + "; ".join(self.failures))
                m = self.traced_pass(job_s)
            else:
                self.timed_loop()
            points = W.geocoded(self.spark, self.pages_path).persist()
            sample = self.verify(points)
            points.unpersist()
            if self.args.trace:
                metrics = self.layer_metrics(m, sample)
            stop_spark(self.spark)
        if self.args.trace:
            return metrics
        if not self.job_s:
            raise RuntimeError("every timed job raised: " + "; ".join(self.failures))
        job_s = statistics.median(self.job_s)
        return {"pages_per_s": self.spec.pages / job_s,
                "job_s": job_s,
                "setup_s": statistics.median(self.setup_s),
                "peak_rss_mb": mem.peak_bytes / MB,
                "ok_frac": 1.0 - len(self.failures) / self.attempted}


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(os.path.dirname(W.__file__), os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--traces", required=True)
    args = ap.parse_args(argv)
    run = Run(args)
    settings = {k: os.environ.get(k) for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH", "SPARK_LOCAL_DIRS",
        "TMPDIR", "PYSPARK_SUBMIT_ARGS", "PYSPARK_PYTHON")}
    settings.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=args.trace, pages=run.spec.pages, grid=W.GRID, setups=SETUPS)
    print("# settings " + json.dumps(settings), flush=True)
    units = declared_metrics(args.trace)
    metrics = run.main()
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    print("# detail " + json.dumps({"setup_s": run.setup_s, "checksums": sorted(set(run.checksums)),
                                    "input": run.input_sums[0], "failures": run.failures}),
          flush=True)
    if args.trace:
        os.makedirs(args.traces, exist_ok=True)
        path = os.path.join(args.traces, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"settings": settings, "spans": run.tr.spans}, f, indent=1)
    result = {"correct": not run.failures, "attempted": run.attempted,
              "failed": len(run.failures),
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
