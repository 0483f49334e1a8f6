"""Per-layer split of a traced run.  Each layer is timed by calling its
module's public function on its own, materialised to a ``noop`` sink;
the rest of the real operation is attributed with Spark's REST stage and
SQL-node metrics under the span's job group.  Results land in
``ctx.layers`` under the names run.PER_LAYER lists."""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

import checks
import inputs
import telemetry

LAYER_REPS = 2        # Spark layer timings: min over this many runs
KERNEL_REPS = 3       # in-driver kernel timings: min over this many runs
KERNEL_SAMPLE = 1000  # docs for the in-driver kernel timings
SLOPE_N = 16000       # larger corpus of the model pass's per-doc slope


def import_langmodel_s(root: str) -> float:
    """Median time to import qualityspark.langmodel (it trains its trigram
    tables at import) in a fresh interpreter, as every Python worker
    does."""
    code = ("import time; t = time.perf_counter(); "
            "import qualityspark.langmodel; "
            "print(time.perf_counter() - t)")
    times = []
    for _ in range(3):
        out = subprocess.run([sys.executable, "-c", code], cwd=root,
                             capture_output=True, text=True, check=True)
        times.append(float(out.stdout.strip().splitlines()[-1]))
    return statistics.median(times)


def _wall(span) -> float:
    return span["end"] - span["start"]


def _min_span(ctx, name, fn, reps=LAYER_REPS):
    """Run fn reps times, each under its own span; (result, span) of the
    fastest."""
    best = None
    for _ in range(reps):
        got = ctx.spans.run(name, fn, op=name)
        if best is None or _wall(got[1]) < _wall(best[1]):
            best = got
    return best


def pages_layers(ctx, rest, pages_dir: str, n: int) -> None:
    """Scan, JVM signal projection, Arrow model pass and the whole audit,
    each to a noop sink; the model pass's Python kernels in the driver.

    The model pass is timed net of a scan of the two columns it reads.
    Its per-doc cost is the slope of that time between this corpus and a
    SLOPE_N-doc corpus of the same seed, so its fixed cost per operation
    (UDF start-up, job scheduling) drops out."""
    from pyspark.sql import functions as F

    from qualityspark.rules.heuristics import signal_columns
    from qualityspark.rules.udfs import model_pass

    def pages(path=pages_dir):
        return ctx.spark.read.parquet(path)

    def model_walls(path, tag=""):
        """Walls of the model pass over the corpus at path and of a scan
        of the two columns it reads (each the min of LAYER_REPS), and the
        model pass's span."""
        cols = _wall(_min_span(ctx, "sources.scan.text_lang" + tag,
                               lambda: ctx.noop(pages(path).select(
                                   "text", "lang")))[1])
        _, span = _min_span(ctx, "rules.udfs.model_pass" + tag,
                            lambda: ctx.noop(pages(path).select(
                                model_pass()(F.col("text"), F.col("lang"))
                                .alias("_m"))))
        return _wall(span) - cols, span

    scan = _wall(_min_span(ctx, "sources.scan",
                           lambda: ctx.noop(pages()))[1])
    sig = _wall(_min_span(ctx, "rules.heuristics.signal_columns",
                          lambda: ctx.noop(signal_columns(
                              pages(), model_signals=True)))[1])
    model, model_span = model_walls(pages_dir)
    big, _ = model_walls(inputs.pages(ctx.work, ctx.seed, SLOPE_N),
                         f".n{SLOPE_N}")
    slope = (big - model) / (SLOPE_N - n)
    arrow = rest.group_report(model_span["group"])
    ctx.layers.update({
        "sources.scan_s": scan,
        "rules.heuristics.signals_s": max(0.0, sig - scan),
        "rules.udfs.model_s": max(0.0, model),
        "rules.udfs.model_us_per_doc_core": slope * ctx.cores * 1e6,
        "rules.udfs.arrow_mb_to_python": arrow["arrow_mb_to_python"],
        "rules.udfs.arrow_mb_from_python": arrow["arrow_mb_from_python"],
    })
    audit_layer(ctx, rest, pages_dir)
    kernel_layers(ctx, n)


def audit_layer(ctx, rest, pages_dir: str) -> None:
    """pipeline.audit to a noop sink, with its dedup shuffle and skew."""
    from qualityspark.caching import release_caches
    from qualityspark.pipeline import audit

    def run():
        ctx.noop(audit(ctx.spark.read.parquet(pages_dir)))
        release_caches()

    _, span = _min_span(ctx, "pipeline.audit", run)
    rep = rest.group_report(span["group"], skew=True)
    ctx.layers.update({"pipeline.audit_s": _wall(span),
                       "rules.dedup.shuffle_mb": rep["shuffle_mb"],
                       "rules.dedup.task_skew": rep["task_skew"]})


def kernel_layers(ctx, n: int) -> None:
    """The model pass's UDF body called in the driver on a corpus sample,
    and the boundary cost (per-doc core cost in Spark minus the body).
    The body's three Python kernels are timed too, as its breakdown."""
    import pandas as pd

    from qualityspark import langmodel as L
    from qualityspark import textstats as T
    from qualityspark.oracle import scrub_and_hits
    from qualityspark.rules.udfs import _model_pass_fn
    rows = inputs.synth_rows(n, ctx.seed)
    sample = rows[::max(1, n // KERNEL_SAMPLE)][:KERNEL_SAMPLE]
    texts = [r["text"] for r in sample]
    langs = [r["lang"] for r in sample]

    def stats_pass():
        stats, norms = [None] * len(texts), [None] * len(texts)
        for i, t in enumerate(texts):
            if t is not None:
                toks = T.tokenize(t)
                stats[i] = T.signal_stats(t, langs[i], toks)
                norms[i] = " " + " ".join(toks).lower() + " "
        return stats, norms

    def best(fn):
        out, times = None, []
        for _ in range(KERNEL_REPS):
            t = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t)
        return out, min(times) * 1e6 / len(texts)

    (stats, norms), stats_us = best(stats_pass)
    _, lang_us = best(lambda: L.langid_ppl_batch(texts, langs, norms))
    _, scrub_us = best(lambda: [scrub_and_hits(t, tox_hint=st[8] > 0)
                                for t, st in zip(texts, stats)
                                if t is not None])
    _, body_us = best(lambda: _model_pass_fn(pd.Series(texts),
                                              pd.Series(langs)))
    core = ctx.layers["rules.udfs.model_us_per_doc_core"]
    ctx.layers.update({
        "langmodel.langid_ppl_us_per_doc": lang_us,
        "textstats.signal_stats_us_per_doc": stats_us,
        "oracle.scrub_us_per_doc": scrub_us,
        "rules.udfs.body_us_per_doc": body_us,
        "rules.udfs.boundary_us_per_doc": core - body_us,
    })


def _committed(out_dir: str) -> int:
    return len(glob.glob(os.path.join(out_dir, "_manifest", "*.json")))


def traced_op(ctx, wl, name: str, prepare: bool = True):
    """One workload operation under a span, output checked; failures are
    counted with the run's operations."""
    if prepare:
        wl.prepare(ctx)
    ctx.trace_attempted += 1
    try:
        _, span = ctx.spans.run(name, lambda: wl.op(ctx), op=name)
        ctx.last = wl.check(ctx)
    except Exception as e:
        ctx.trace_failed += 1
        print(f"traced op failed: {e!r}", file=sys.stderr)
        return None
    return span


def _overhead(ctx, traced: float) -> None:
    ctx.layers.update({"trace.untraced_wall_s": ctx.untraced_wall,
                       "trace.traced_wall_s": traced,
                       "trace.overhead_s": traced - ctx.untraced_wall})


def io_op(ctx, rest, wl, name: str, reference) -> None:
    """The real run_resumable operation, traced between two untraced
    reference operations: io job/scan/byte counts, manifest before and
    after, stage totals, and the sinks' share."""
    out = ctx.out("out")
    reference()
    wl.prepare(ctx)
    before = _committed(out)
    span = traced_op(ctx, wl, name, prepare=False)
    after = _committed(out)
    reference()
    if span is None:
        return
    traced = _wall(span)
    rep = rest.group_report(span["group"], out_dir=out)
    ctx.layers.update({
        "io.sinks_s": traced - ctx.layers.get("pipeline.audit_s", 0.0),
        "io.jobs": rep["jobs"], "io.output_scans": rep["output_scans"],
        "io.written_mb": rep["written_mb"],
        "io.read_back_mb": rep["read_back_mb"],
        "io.chunks_written": after - before,
        "io.chunks_skipped": before,
        "rows.in": ctx.last.get("rows_in", 0),
        "rows.kept": ctx.last.get("kept", 0),
        "rows.lineage": ctx.last.get("lineage", 0),
    })
    _overhead(ctx, traced)
    _spark_totals(ctx, rep)


def _spark_totals(ctx, rep: dict) -> None:
    for k in ("run_s", "cpu_s", "gc_s", "spill_mb"):
        ctx.layers.setdefault(f"spark.{k}", rep[k])


def csv_layers(ctx, rest, n: int, cols: int, reference=None) -> None:
    """audit_csv traced as a whole (jobs, overlap, driver gaps), then its
    read and type-detection layers on their own; checks are the rest.
    With ``reference`` (the csv_audit workload) the untraced operations
    run first and the traced audit gives the tracing overhead."""
    from qualityspark import typeinfer as TI
    from qualityspark.csv_audit import audit_csv
    from qualityspark.reports import csv_to_text
    from qualityspark.sources import read_csv_audited
    path = inputs.audit_csv_file(ctx.work, ctx.seed, n, cols)
    if reference:
        reference()
    ctx.trace_attempted += 1
    report, span = ctx.spans.run("csv_audit.audit_csv",
                                 lambda: audit_csv(ctx.spark, path),
                                 op="csv_audit")
    try:
        checks.csv_report(report, n, cols)
    except Exception as e:
        ctx.trace_failed += 1
        print(f"traced csv audit failed: {e!r}", file=sys.stderr)
    rep = rest.group_report(span["group"])
    busy, peak = telemetry.busy_union(rep["job_intervals"])
    ctx.layers.setdefault("rows.in", n)
    df, raw = _min_span(ctx, "sources.read_csv_audited",
                        lambda: read_csv_audited(ctx.spark, path))
    _, detect = _min_span(ctx, "typeinfer.detect_types",
                          lambda: TI.detect_types(df), reps=1)
    _, text = _min_span(ctx, "reports.csv_to_text",
                        lambda: csv_to_text(report), reps=KERNEL_REPS)
    ctx.layers.update({
        "sources.read_csv_s": _wall(raw),
        "typeinfer.detect_types_s": _wall(detect),
        "csv_audit.checks_s": _wall(span) - _wall(raw) - _wall(detect),
        "csv_audit.jobs": rep["jobs"],
        "csv_audit.max_jobs_in_flight": peak,
        "csv_audit.driver_gap_s": max(0.0, _wall(span) - busy),
        "reports.csv_to_text_s": _wall(text),
    })
    if reference:
        reference()
        _overhead(ctx, _wall(span))
    _spark_totals(ctx, rep)


def stream_layers(ctx, rest, wl, reference=None) -> None:
    """One stream drain (a StreamDrain workload), checked, then its
    micro-batch metrics and the stage totals of the drain.  With
    ``reference`` (the stream_drain workload) the untraced operations run
    first and the traced drain gives the tracing overhead."""
    if reference:
        reference()
    else:
        wl.inputs(ctx)
    span = traced_op(ctx, wl, "streaming.run_available_now")
    if span is None:
        return
    query = wl.query
    if reference:
        reference()
        _overhead(ctx, _wall(span))
    stream_query_layers(ctx, rest, query, wl.n, span)


def _progress(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


def stream_query_layers(ctx, rest, query, n: int, span) -> None:
    """streaming.* from the query's recentProgress; stage totals from the
    jobs that ran during the drain."""
    prog = [_progress(p) for p in query.recentProgress]
    data = [p for p in prog if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in data]
    trig = sum(d.get("triggerExecution", 0) for d in dur)
    ops = [s for p in prog for s in p.get("stateOperators", [])]
    ctx.layers.update({
        "streaming.batches": len(data),
        "streaming.batch_s": telemetry.median(
            [d.get("triggerExecution", 0) / 1e3 for d in dur]),
        "streaming.add_batch_share":
            sum(d.get("addBatch", 0) for d in dur) / trig if trig else 0.0,
        "streaming.commit_s": sum(d.get("walCommit", 0)
                                  + d.get("commitOffsets", 0)
                                  for d in dur) / 1e3,
        "streaming.state_rows": max((s.get("numRowsTotal", 0) for s in ops),
                                    default=0),
        "streaming.state_mb": max((s.get("memoryUsedBytes", 0)
                                   for s in ops), default=0) / 1e6,
        "streaming.rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in ops),
    })
    ctx.layers.setdefault("rows.in", n)
    ctx.layers.setdefault("rows.kept", ctx.last.get("kept", 0))
    ctx.layers.setdefault("rows.lineage", ctx.last.get("lineage", 0))
    _spark_totals(ctx, rest.group_report(
        None, window=(span["start"], span["end"])))
