"""Output checks, one per operation.  A check reads what the operation
wrote with DuckDB (no Spark job, so it never shows up in the traced
metrics) and returns a dict of counts; any mismatch raises CheckFailed."""

from __future__ import annotations

import glob
import os

import inputs


class CheckFailed(AssertionError):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _sql(query: str, params=None):
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        return con.execute(query, params or []).fetchall()
    finally:
        con.close()


def _naive_utc(ts):
    if ts is not None and ts.tzinfo is not None:
        import datetime as dt
        ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return ts


def audited_records(files: str) -> list:
    rows = _sql("SELECT url, warc_ts, keep, rules_fired, scrubbed_text "
                f"FROM read_parquet('{files}')")
    return [inputs.row_key(u, _naive_utc(ts), k, r, s)
            for u, ts, k, r, s in rows]


def pages_output(out_dir: str, expect: dict, chunks: int) -> dict:
    """``run_resumable`` output against the oracle digest of the same seed:
    every row's keep / rules_fired / sha(scrubbed_text), plus row
    conservation (audited == input, lineage rows == rules fired, metrics
    n_docs == input) and a complete manifest."""
    recs = audited_records(os.path.join(out_dir, "data", "chunk=*",
                                        "*.parquet"))
    n = expect["n"]
    _expect(len(recs) == n, f"audited rows {len(recs)} != input {n}")
    _expect(inputs.digest(recs) == expect["digest"],
            "audited rows differ from the oracle")
    fired = sum(len(r[3]) for r in recs)
    lineage = _sql("SELECT count(*) FROM read_parquet("
                   f"'{out_dir}/lineage/*/*.parquet')")[0][0]
    _expect(lineage == fired, f"lineage rows {lineage} != fired {fired}")
    n_docs = _sql("SELECT sum(n_docs) FROM read_parquet("
                  f"'{out_dir}/metrics/*.parquet')")[0][0]
    _expect(n_docs == n, f"metrics n_docs {n_docs} != input {n}")
    committed = len(glob.glob(os.path.join(out_dir, "_manifest", "*.json")))
    _expect(committed == chunks, f"{committed} of {chunks} chunks committed")
    return {"rows_in": n, "kept": sum(r[2] for r in recs),
            "lineage": lineage, "committed": committed}


def stream_output(out_dir: str, expected_rows: int) -> dict:
    """Drained stream output: the row count the watermark dedup must leave
    (see inputs.stream_expected_rows) and a digest for run-to-run
    comparison."""
    recs = audited_records(os.path.join(out_dir, "*.parquet"))
    _expect(len(recs) == expected_rows,
            f"stream rows {len(recs)} != expected {expected_rows}")
    return {"rows": len(recs), "digest": inputs.digest(recs),
            "kept": sum(r[2] for r in recs),
            "lineage": sum(len(r[3]) for r in recs)}


def csv_report(report: dict, n_rows: int, n_cols: int) -> dict:
    """audit_csv report: shape matches the input and every planted defect
    raises its check id on its column."""
    _expect(report["n_rows"] == n_rows,
            f"n_rows {report['n_rows']} != {n_rows}")
    _expect(report["n_columns"] == n_cols,
            f"n_columns {report['n_columns']} != {n_cols}")
    fired = {(col, ch["check_id"])
             for col, info in report["columns"].items()
             for ch in info["checks"] if not ch["passed"]}
    missing = [p for p in inputs.CSV_PLANTED if p not in fired]
    _expect(not missing, f"planted defects not raised: {missing}")
    return {"rows_in": n_rows, "failed_checks": len(fired)}
