"""qualityspark benchmark: public entry points timed end to end, and split
by layer in a traced run.

    python3 perfbench/run.py --workload pages_run --seed 1 --seconds 15 \\
        --trace 0

Run it from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/`` (input generation is never timed).  The
load is a closed loop: one client, each operation starts after the
previous one ended, on ``get_spark`` at ``local[<cores>]``.  Every
operation's output is checked; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The line
before it is a readable summary that also carries ``ops_failed_ratio``,
the op count, every op's wall time and ``peak_rss_mb``.

Workloads (sizes below):
  pages_run    io.run_resumable(chunks=16) into a fresh output dir (cli run)
  pages_resume run_resumable to completion from a copy of an output dir
               crashed after 8 of 16 chunk commits
  csv_audit    csv_audit.audit_csv on a 30-column CSV with planted defects
  stream_drain streaming.stream_audit -> run_available_now (cli stream)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402  (benchmark modules next to this file)
import inputs  # noqa: E402
import telemetry  # noqa: E402

PAGES_N = 4000           # docs in the pages corpus
WARM_N = 400             # docs in the same-schema warm-up corpus
CSV_N = 2000             # rows of the csv_audit workload CSV
CSV_TRACE_N, CSV_TRACE_COLS = 500, 8     # CSV measured in pages_resume traces
STREAM_N = 3000          # docs drained by stream_drain
STREAM_TRACE_N = 1000    # docs drained in pages_run traces
MIN_OPS = 3              # operations per run, even past --seconds
DRIVER_MEM = "3g"        # SPARK_GRAFT_DRIVER_MEM of every run

PER_LAYER = [
    ("sources.scan_s", "s"), ("rules.heuristics.signals_s", "s"),
    ("rules.udfs.model_s", "s"), ("rules.udfs.model_us_per_doc_core", "us"),
    ("langmodel.langid_ppl_us_per_doc", "us"),
    ("textstats.signal_stats_us_per_doc", "us"),
    ("oracle.scrub_us_per_doc", "us"),
    ("rules.udfs.body_us_per_doc", "us"),
    ("rules.udfs.boundary_us_per_doc", "us"),
    ("rules.udfs.arrow_mb_to_python", "MB"),
    ("rules.udfs.arrow_mb_from_python", "MB"),
    ("pipeline.audit_s", "s"), ("rules.dedup.shuffle_mb", "MB"),
    ("rules.dedup.task_skew", "ratio"), ("io.sinks_s", "s"),
    ("io.jobs", "count"), ("io.output_scans", "count"),
    ("io.written_mb", "MB"), ("io.read_back_mb", "MB"),
    ("io.chunks_written", "count"), ("io.chunks_skipped", "count"),
    ("spark.run_s", "s"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.spill_mb", "MB"),
    ("rows.in", "count"), ("rows.kept", "count"), ("rows.lineage", "count"),
    ("sources.read_csv_s", "s"), ("typeinfer.detect_types_s", "s"),
    ("csv_audit.checks_s", "s"), ("csv_audit.jobs", "count"),
    ("csv_audit.max_jobs_in_flight", "count"),
    ("csv_audit.driver_gap_s", "s"), ("reports.csv_to_text_s", "s"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"),
    ("streaming.add_batch_share", "ratio"), ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
    ("streaming.rows_dropped_by_watermark", "count"),
    ("session.get_spark_s", "s"), ("langmodel.import_s", "s"),
    ("warmup_s", "s"), ("mem.peak_rss_mb", "MB"),
    ("trace.untraced_wall_s", "s"),
    ("trace.traced_wall_s", "s"), ("trace.overhead_s", "s"),
]


class Ctx:
    """Everything one run shares: paths, seed, session, inputs, layers."""

    def __init__(self, root, work, seed, cores):
        self.root, self.work, self.seed, self.cores = root, work, seed, cores
        self.spark = None
        self.layers: dict[str, float] = {}
        self.spans = None
        self.last: dict = {}
        self.trace_attempted = self.trace_failed = 0

    def out(self, name: str) -> str:
        return os.path.join(self.work, "ops", name)

    def fresh(self, *names: str) -> None:
        for name in names:
            shutil.rmtree(self.out(name), ignore_errors=True)

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------- workloads --

class PagesRun:
    """io.run_resumable over the seeded pages corpus (the cli run path)."""
    unit = "docs/s"
    n = PAGES_N

    def inputs(self, ctx):
        self.pages = inputs.pages(ctx.work, ctx.seed, self.n)
        self.warm = inputs.pages(ctx.work, ctx.seed, WARM_N)
        self.expect = inputs.oracle_digest(ctx.work, ctx.seed, self.n)
        self.items = self.expect["n"]

    def warmup(self, ctx):
        from qualityspark.io import run_resumable
        ctx.fresh("warm")
        run_resumable(ctx.spark, ctx.spark.read.parquet(self.warm),
                      ctx.out("warm"), chunks=inputs.CHUNKS)

    def prepare(self, ctx):
        ctx.fresh("out")

    def op(self, ctx):
        from qualityspark.io import run_resumable
        run_resumable(ctx.spark, ctx.spark.read.parquet(self.pages),
                      ctx.out("out"), chunks=inputs.CHUNKS)

    def check(self, ctx):
        return checks.pages_output(ctx.out("out"), self.expect,
                                    inputs.CHUNKS)

    def trace(self, ctx, rest, reference):
        import layers
        layers.pages_layers(ctx, rest, self.pages, self.n)
        layers.io_op(ctx, rest, self, "io.run_resumable", reference)
        layers.stream_layers(ctx, rest, StreamDrain(STREAM_TRACE_N))


class PagesResume(PagesRun):
    """run_resumable to completion over a copy of a crashed output dir.

    Its warm-up is the crash itself: a run over the real corpus that stops
    after 8 of 16 chunk commits.  The first crash of a seed is kept as the
    template every operation starts from, so warm-up costs the same with a
    cold or a warm input cache."""

    def warmup(self, ctx):
        from qualityspark.io import run_resumable
        self.template = inputs.resume_template(
            ctx.spark, ctx.work, ctx.seed, self.n, self.pages, run_resumable,
            scratch=ctx.out("crash"))

    def prepare(self, ctx):
        ctx.fresh("out")
        shutil.copytree(self.template, ctx.out("out"))

    def trace(self, ctx, rest, reference):
        import layers
        layers.audit_layer(ctx, rest, self.pages)
        layers.io_op(ctx, rest, self, "io.run_resumable.resume", reference)
        layers.csv_layers(ctx, rest, CSV_TRACE_N, CSV_TRACE_COLS)


class CsvAudit:
    """csv_audit.audit_csv on a 30-column CSV with planted defects."""
    unit = "rows/s"
    n = CSV_N

    def inputs(self, ctx):
        self.cols = inputs.CSV_COLS
        self.path = inputs.audit_csv_file(ctx.work, ctx.seed, self.n)
        self.warm = inputs.audit_csv_file(ctx.work, ctx.seed, 200)
        self.items = self.n

    def warmup(self, ctx):
        from qualityspark.csv_audit import audit_csv
        audit_csv(ctx.spark, self.warm)

    def prepare(self, ctx):
        pass

    def op(self, ctx):
        from qualityspark.csv_audit import audit_csv
        self.report = audit_csv(ctx.spark, self.path)

    def check(self, ctx):
        return checks.csv_report(self.report, self.n, self.cols)

    def trace(self, ctx, rest, reference):
        import layers
        layers.csv_layers(ctx, rest, self.n, self.cols, reference)


class StreamDrain:
    """stream_audit -> run_available_now over the corpus in warc_ts order,
    fresh checkpoint and output dir per operation (the cli stream path)."""
    unit = "docs/s"

    def __init__(self, n=STREAM_N):
        self.n = n

    def inputs(self, ctx):
        self.src = inputs.stream_files(ctx.work, ctx.seed, self.n)
        self.warm = inputs.stream_files(ctx.work, ctx.seed, WARM_N)
        self.expect_rows = inputs.stream_expected_rows(ctx.seed, self.n)
        self.items = self.n
        self.digest = None

    def drain(self, ctx, src):
        from qualityspark.streaming import (run_available_now, stream_audit,
                                            stream_pages)
        ctx.fresh("out", "ckpt")
        return run_available_now(stream_audit(stream_pages(ctx.spark, src)),
                                 ctx.out("out"), ctx.out("ckpt"))

    def warmup(self, ctx):
        self.drain(ctx, self.warm)

    def prepare(self, ctx):
        ctx.fresh("out", "ckpt")

    def op(self, ctx):
        self.query = self.drain(ctx, self.src)

    def check(self, ctx):
        got = checks.stream_output(ctx.out("out"), self.expect_rows)
        if self.digest is None:
            self.digest = got["digest"]
        elif got["digest"] != self.digest:
            raise checks.CheckFailed("stream output differs between ops")
        return got

    def trace(self, ctx, rest, reference):
        import layers
        layers.stream_layers(ctx, rest, self, reference)


WORKLOADS = {"pages_run": PagesRun, "pages_resume": PagesResume,
             "csv_audit": CsvAudit, "stream_drain": StreamDrain}


# --------------------------------------------------------------- runner --

def configure_env(root: str, work: str, cores: int) -> None:
    """Environment for the program and every process it starts: local
    Spark on all cores, Python workers that import qualityspark, and all
    scratch files inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # JVM scratch files (and no hsperfdata) stay inside the work dir
    os.environ["JDK_JAVA_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                      "-XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        left = telemetry.descendants(os.getpid())[1:]
        if not left:
            return
        time.sleep(0.2)
    for pid in telemetry.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def measure(ctx, wl, seconds: float, min_ops: int):
    """Closed loop: untimed prepare, timed op, untimed output check."""
    walls, failed = [], 0
    t_end = time.time() + seconds
    while len(walls) < min_ops or time.time() < t_end:
        wl.prepare(ctx)
        t0 = time.perf_counter()
        ok = True
        try:
            wl.op(ctx)
        except Exception as e:
            ok = False
            print(f"op failed: {e!r}", file=sys.stderr)
        walls.append(time.perf_counter() - t0)
        if ok:
            try:
                ctx.last = wl.check(ctx)
            except Exception as e:
                ok = False
                print(f"check failed: {e!r}", file=sys.stderr)
        failed += not ok
    return walls, failed


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "qualityspark", "__init__.py")):
        print("run from the repository root: qualityspark/ not found",
              file=sys.stderr)
        return 2
    t_proc = telemetry.process_start_time()
    work = os.path.join(root, ".perfbench_work")
    cores = len(os.sched_getaffinity(0))
    configure_env(root, work, cores)
    sys.path.insert(0, root)
    os.makedirs(os.path.join(work, "inputs"), exist_ok=True)
    os.chdir(work)

    ctx = Ctx(root, work, args.seed, cores)
    wl = WORKLOADS[args.workload]()
    t = time.time()
    wl.inputs(ctx)
    gen_s = time.time() - t

    from qualityspark.session import get_spark
    t = time.time()
    ctx.spark = get_spark(app=f"perfbench-{args.workload}")
    get_spark_s = time.time() - t
    ctx.spark.sparkContext.setLogLevel("ERROR")
    t_ready = time.time()
    t = time.time()
    wl.warmup(ctx)
    warmup_s = time.time() - t
    # input generation is the benchmark's cost, not the user's
    setup_s = (t_ready - t_proc - gen_s) + warmup_s

    rss = telemetry.RssSampler(os.getpid())
    walls, failed = [], 0

    def reference(seconds=0, min_ops=1):
        """Untraced operations: the end-to-end sample, or in a traced run
        the reference on both sides of the traced operation (A-B-A, so
        the JIT's warm-up trend cancels out of the overhead)."""
        nonlocal failed
        rss.start()
        got, bad = measure(ctx, wl, seconds, min_ops)
        walls.extend(got)
        failed += bad
        ctx.untraced_wall = telemetry.median(walls)

    try:
        if args.trace:
            import layers
            rest = telemetry.Rest(ctx.spark.sparkContext)
            ctx.spans = telemetry.Spans(ctx.spark.sparkContext)
            ctx.layers.update({
                "session.get_spark_s": get_spark_s, "warmup_s": warmup_s,
                "langmodel.import_s": layers.import_langmodel_s(root)})
            wl.trace(ctx, rest, reference)
            ctx.layers["mem.peak_rss_mb"] = rss.stop() / 1e6
            ctx.spans.dump(os.path.join(
                work, "trace", f"{args.workload}_s{args.seed}.json"))
        else:
            reference(args.seconds, MIN_OPS)
    finally:
        peak_rss = rss.stop()
        stop_spark(ctx.spark)

    n_ops = len(walls)
    wall = telemetry.median(walls)
    attempted = n_ops + ctx.trace_attempted
    failed += ctx.trace_failed
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "items": wl.items, "ops": n_ops,
        "setup_s": round(setup_s, 4), "get_spark_s": round(get_spark_s, 2),
        "warmup_s": round(warmup_s, 2), "wall_s": round(wall, 4),
        "wall_max_s": round(max(walls), 4),
        "items_per_s": f"{wl.items / wall:.1f} {wl.unit}",
        "peak_rss_mb": round(peak_rss / 1e6, 1),
        "ops_failed_ratio": failed / attempted,
        "op_walls_s": [round(w, 2) for w in walls],
        "input_gen_s": round(gen_s, 2)}
    print("summary " + json.dumps(summary))
    if args.trace:
        metrics = {name: {"value": float(ctx.layers.get(name, 0.0)),
                          "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "items_per_s": {"value": wl.items / wall, "unit": wl.unit},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
