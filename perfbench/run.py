#!/usr/bin/env python3
"""LST engine benchmark: one closed-loop client, passes back to back.

    python3 perfbench/run.py --workload tiles_skewed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs come from ``perfbench/gen.py`` and
the seed; the engine only sees the generated tables. Spark runs on
``local[nproc]`` with a driver heap sized to the RAM of the machine it runs on.

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace
1`` is the separate traced run that gives the per-layer metrics and its own
overhead. Both check the output; a failed check makes ``correct`` false and
the exit code 1. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything a run writes stays under ``perfbench/.work`` and
``perfbench/.cache`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SETUPS = 2          # sessions started per run; setup_s is their median
MIN_PASSES = 3      # timed passes even when --seconds is short
WARMUP_S = 5        # untimed passes after the check: JIT keeps speeding up
                    # the first few passes of a session
TRACE_REPS = 5      # reps per traced prefix and traced pass


def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    ram_gb = ram_kb / 2**20
    # an eighth of RAM, 2-4 GB: the heap, one Python worker per core and
    # the work dir's files must all fit next to each other, and the inputs
    # are ~100 MB, so the heap never needs the engine's 16g default
    driver_gb = max(2, min(4, int(ram_gb // 8)))
    return {"cpus": cores, "ram_gb": round(ram_gb, 2), "driver_mem": f"{driver_gb}g"}


class Engine:
    """Starts and stops Spark sessions in one driver JVM."""

    def __init__(self, cores: int, work: Path, driver_mem: str,
                 event_log: Path | None = None):
        self.cores, self.spark = cores, None
        self.extra = {
            # the whole heap committed and touched at launch, so RSS does not
            # wander with heap resizing; no hsperfdata file outside the work dir
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -Xms{driver_mem} "
                "-XX:+AlwaysPreTouch -XX:-UsePerfData"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            self.extra.update({"spark.eventLog.enabled": "true",
                               "spark.eventLog.dir": event_log.as_uri(),
                               "spark.eventLog.compress": "false",
                               "spark.eventLog.rolling.enabled": "false"})

    def start(self):
        from i_landsat8_swlst_spark.session import get_spark

        self.stop()
        self.spark = get_spark(app="perfbench", cores=self.cores, extra=self.extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def describe(self, desc: str) -> None:
        self.spark.sparkContext.setJobDescription(desc)


def shutdown_jvm() -> None:
    """Stop the driver JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Run:
    def __init__(self, args, diag: dict):
        from gen import generate
        from workloads import WORKLOADS, Check

        self.args, self.diag = args, diag
        self.work = HERE / ".work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("local", "tmp"):
            (self.work / d).mkdir(parents=True)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["TMPDIR"] = tempfile.tempdir = str(self.work / "tmp")
        os.environ["SPARK_DRIVER_MEM"] = diag["driver_mem"]
        t0 = time.perf_counter()
        self.tables = generate(args.workload, args.seed, HERE / ".cache", diag["cpus"])
        diag["gen_s"] = round(time.perf_counter() - t0, 3)
        self.wl = WORKLOADS[args.workload](self.tables)
        self.chk = Check()
        self.attempted = 0
        self.pass_failures = 0

    def fail(self) -> None:
        traceback.print_exc(file=sys.stderr)
        self.pass_failures += 1
        self.attempted += 1

    def passes(self, seconds: float, min_passes: int = MIN_PASSES) -> list[float]:
        """Passes back to back for ``seconds`` and at least ``min_passes``
        attempts -> the walls of those that succeeded."""
        walls, failed = [], 0
        t_end = time.perf_counter() + seconds
        while len(walls) + failed < min_passes or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            try:
                self.wl.run_pass()
            except Exception:
                self.fail()
                failed += 1
                continue
            walls.append(time.perf_counter() - t0)
        self.attempted += len(walls)
        return walls

    def check_and_warm(self) -> dict:
        """The output check, then untimed passes: both finish the warm-up
        the session starts began."""
        got = self.check()
        self.passes(WARMUP_S, min_passes=1)
        return got

    def setups(self, engine: Engine) -> list[float]:
        """Session start to the first completed (warm-up) pass, SETUPS times;
        the first one also pays the JVM launch."""
        out = []
        for _ in range(SETUPS):
            engine.stop()
            t0 = time.perf_counter()
            self.wl.open(engine.start())
            self.wl.run_pass()
            out.append(time.perf_counter() - t0)
        return out

    def check(self, fn=None):
        """Run an output check (the workload's own by default); every named
        check it records is one more attempt."""
        n0 = len(self.chk.results)
        try:
            got = (fn or self.wl.check)(self.chk)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.chk.expect("check_ran", False, "exception")
            got = {}
        self.attempted += len(self.chk.results) - n0
        return got

    # --- --trace 0 ----------------------------------------------------------

    def end_to_end(self, seconds: float) -> dict:
        from tracing import RssSampler

        engine = Engine(self.diag["cpus"], self.work, self.diag["driver_mem"])
        setups = self.setups(engine)
        got = self.check_and_warm()
        sampler = RssSampler(engine.jvm_pid())
        try:
            sampler.active.set()
            walls = self.passes(seconds)
            sampler.active.clear()
        finally:
            sampler.close()
        engine.stop()
        if not walls:
            raise RuntimeError("every timed pass failed")
        self.diag.update({"passes": len(walls), "pass_s": [round(w, 4) for w in walls],
                          "setups_s": [round(s, 4) for s in setups],
                          "bytes_per_px": got.get("bytes_per_px"),
                          "peak_rss_jvm_gb": round(sampler.peak_root / 2**30, 3),
                          "peak_rss_workers_gb": round(sampler.peak_rest / 2**30, 3)})
        self.walls = walls
        return {
            "mpx_per_s": self.wl.pixels / 1e6 / statistics.median(walls),
            "setup_s": statistics.median(setups),
            "peak_rss_gb": sampler.peak / 2**30,
        }

    # --- --trace 1 ----------------------------------------------------------

    def traced(self) -> dict:
        from tracing import EventLog, Tracer

        wl, cores = self.wl, self.diag["cpus"]
        # untraced reference: the --trace 0 sequence with the minimum passes
        self.end_to_end(0)
        untraced = self.walls

        tr = Tracer(run_id=f"{self.args.workload}-s{self.args.seed}")
        log_dir = self.work / "eventlog"
        engine = Engine(cores, self.work, self.diag["driver_mem"], event_log=log_dir)
        with tr.span("session.start"):
            wl.open(engine.start())
        # the same sequence as the untraced reference: a first pass, the
        # check and warm-up, then the passes; the layer prefixes come after
        engine.describe("warm")
        wl.run_pass()
        engine.describe("check")
        with tr.span("check"):
            got = self.check_and_warm()
        for _ in range(TRACE_REPS):
            engine.describe("pass")
            with tr.span("pass"):
                wl.run_pass()
        self.attempted += TRACE_REPS
        for _ in range(TRACE_REPS):  # interleaved: same weather for every prefix
            for name, fn in wl.prefixes():
                engine.describe(name)
                with tr.span(f"prefix.{name}"):
                    fn()
        extra = {}
        if self.args.workload == "tiles_skewed":
            extra = self.trace_checkpoint(engine, tr)
        engine.stop()  # flushes the event log

        # untraced passes again: with the ones before, they bracket the
        # traced passes against the JVM's warming trend
        engine = Engine(cores, self.work, self.diag["driver_mem"])
        wl.open(engine.start())
        wl.run_pass()
        untraced += self.passes(0)
        engine.stop()
        plain = statistics.median(untraced)

        ev = EventLog(log_dir)
        pre = {n: statistics.median(tr.durations(f"prefix.{n}")) for n, _ in wl.prefixes()}
        m = {"session.start_s": tr.durations("session.start")[0]}
        pair = ev.totals(ev.select("pair"))
        m["scan.s"] = pre["scan"]
        # on-disk size of the scanned table: the event log's input bytes
        # miss local parquet reads
        m["scan.input_mb"] = sum(f.stat().st_size for f in
                                 Path(self.tables.scenes).glob("*.parquet")) / 1e6
        m["pipeline.pair.s"] = pre["pair"] - pre["scan"]
        for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            m[f"pipeline.pair.{k}"] = pair[k] / TRACE_REPS  # the scan shuffles nothing

        tiles = "stats" in pre
        m["pipeline.lst_tiles.s"] = pre["stats"] - pre["pair"] if tiles else 0.0
        m["pipeline.lst_tiles.emit_s"] = pre["emit"] - pre["stats"] if tiles else 0.0
        m["pipeline.lst_tiles.arrow_out_mb"] = (
            got.get("bytes_per_px", 0.0) * wl.pixels / 1e6 if tiles else 0.0)
        m["pipeline.lst_tiles.task_skew"] = (
            ev.task_skew(ev.select("emit")) if tiles else 0.0)

        m.update(wl.kernel_micro())
        enrich = "enrich" in pre
        m["pipeline.lst_pixels.s"] = pre["pixels"] - pre["pair"] if enrich else 0.0
        m["pipeline.lst_pixels.rows"] = float(got.get("pixel_rows", 0))
        m.update(wl.spatial_micro() if enrich else {
            k: 0.0 for k in ("geo.hexcell_ns_per_pt", "geo.s2_cell_ns_per_pt",
                             "spatial.pip_ns_per_pt", "spatial.pip_match_ratio",
                             "spatial.knn_ns_per_pt", "spatial.knn_dist_evals_per_pt")})
        m["spatial.enrich.s"] = pre["enrich"] - pre["pixels"] if enrich else 0.0
        m["spatial.enrich.rows_out"] = float(got.get("rows_out", 0)) if enrich else 0.0
        m["spatial.enrich.fanout"] = (got["rows_out"] / got["pixel_rows"]
                                      if enrich else 0.0)
        for k in ("fingerprint_s", "run_s", "groups", "manifests", "bytes_written_mb",
                  "bytes_per_px", "slices_reexecuted", "resume_validate_s", "resume_s"):
            m[f"checkpoint.{k}"] = float(extra.get(k, 0.0))

        passes = ev.totals(ev.select("pass"))
        traced = statistics.median(tr.durations("pass"))
        m.update({
            "spark.executor_run_s": passes["run_s"] / TRACE_REPS,
            "spark.executor_cpu_s": passes["cpu_s"] / TRACE_REPS,
            "spark.gc_s": passes["gc_s"] / TRACE_REPS,
            "spark.cpu_util": passes["cpu_s"] / max(1e-9, sum(tr.durations("pass")) * cores),
            "spark.tasks": passes["tasks"] / TRACE_REPS,
            "spark.tasks_failed": float(ev.totals(ev.tasks)["tasks_failed"]),
            "spark.shuffle_write_mb": passes["shuffle_write_mb"] / TRACE_REPS,
            "spark.spill_mb": passes["spill_mb"] / TRACE_REPS,
        })
        m["kernels.share"] = m["kernels.core_s"] / (plain * cores)
        m.update({"trace.pass_s": traced, "trace.untraced_pass_s": plain,
                  "trace.overhead_s": traced - plain,
                  "trace.overhead_share": (traced - plain) / plain})
        # what the layer numbers above do not explain: the untraced pass wall
        # minus scan, pairing, emission, and the decode + kernel (+ spatial)
        # core time spread over all cores; idle cores land in the remainder
        attributed = (m["scan.s"] + m["pipeline.pair.s"] + m["kernels.core_s"] / cores
                      + m["pipeline.lst_tiles.emit_s"])
        if enrich:
            per_pt = (3 * m["geo.hexcell_ns_per_pt"] + m["geo.s2_cell_ns_per_pt"]
                      + m["spatial.pip_ns_per_pt"] + m["spatial.knn_ns_per_pt"])
            attributed += got["pixel_rows"] * per_pt / 1e9 / cores
        m["pass.unattributed_s"] = plain - attributed
        m["pass.unattributed_share"] = (plain - attributed) / plain
        tr.write(HERE / ".work" / "spans" / f"{tr.run_id}-{os.getpid()}.json")
        return m

    def trace_checkpoint(self, engine: Engine, tr) -> dict:
        """The durable job on this workload's input: a fresh run, a resume
        with every slice done (validation only), then a failure injected at
        half the slices and the resume that finishes the job."""
        from i_landsat8_swlst_spark import checkpoint
        from workloads import N_SLICES, DurableJob

        dj = DurableJob(self.wl, self.work / "durable_out")

        def step(name, fn):
            engine.describe(f"checkpoint.{name}")
            with tr.span(f"checkpoint.{name}"):
                return fn()

        step("fingerprint", lambda: checkpoint.slice_fingerprints(self.wl.enriched(), N_SLICES))
        fresh = step("run", dj.fresh)
        written = dj.written_bytes()
        validate = step("validate", dj.job)
        done = step("fail_half", dj.fail_half)
        resumed = step("resume", dj.job)
        self.check(lambda chk: dj.check(chk, resumed, done))
        span = lambda name: tr.durations(f"checkpoint.{name}")[0]
        return {
            "fingerprint_s": span("fingerprint"),
            "run_s": span("run"),
            "groups": -(-len(fresh["executed"]) // fresh["slice_batch"]),
            "manifests": len(list((dj.out / "_manifest").glob("slice-*.json"))),
            "bytes_written_mb": written / 1e6,
            "bytes_per_px": written / self.wl.pixels,
            "slices_reexecuted": len(resumed["executed"]) + len(validate["executed"]),
            "resume_validate_s": span("validate"),
            "resume_s": span("resume"),
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["tiles_skewed", "pixels_enrich"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import i_landsat8_swlst_spark  # noqa: F401  (fails outside a checkout)
    from bench import STEAL_REF_MS, _steal_probe

    diag = machine()
    run = Run(args, diag)
    diag["steal_index"] = round(_steal_probe() / STEAL_REF_MS, 3)
    try:
        metrics = run.traced() if args.trace else run.end_to_end(args.seconds)
    finally:
        shutdown_jvm()
        shutil.rmtree(run.work, ignore_errors=True)

    failed = run.pass_failures + run.chk.failed
    for name, (ok, detail) in run.chk.results.items():
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          + json.dumps(diag, default=str))
    print(f"{args.workload} error_rate = {failed}/{run.attempted} "
          f"= {failed / max(1, run.attempted):.4f}")
    units = metric_units("per_layer" if args.trace else "end_to_end")
    for name, v in metrics.items():
        print(f"{args.workload} {name} = {v:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def metric_units(kind: str) -> dict:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


if __name__ == "__main__":
    sys.exit(main())
