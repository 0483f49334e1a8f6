"""Seeded benchmark inputs, generated once per (kind, seed, size) and cached
under the work directory, outside every timed region.

* pages corpus   -- the ``synth.pages_df(seed=...)`` rows written as
                    PAGE_FILES equal parquet files, so Spark's split
                    packing gives every core's scan task the same number
                    of files;
* oracle digest  -- ``oracle.audit_rows`` over the same rows, reduced to
                    one digest of sorted (url, warc_ts, keep, rules,
                    sha(scrubbed_text)) records;
* stream files   -- the same corpus sorted by ``warc_ts`` and cut into
                    STREAM_FILES files with increasing mtimes, so the file
                    source replays them in event-time order;
* resume template-- an output dir crashed with ``fail_after=8``, with
                    the data of its uncommitted chunks removed (made by
                    the pages_resume warm-up, see run.PagesResume);
* audit CSV      -- ~30 mixed-type columns with planted defects.

Every generator is a pure function of its seed.  A cache entry is
published with an atomic rename, so a killed generation never leaves a
half-written input behind.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import random
import shutil

PAGE_FILES = 16
STREAM_FILES = 48
RESUME_FAIL_AFTER = 8
CHUNKS = 16


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


def _fresh(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.isfile(tmp):
        os.remove(tmp)
    return tmp


def _pages_schema():
    import pyarrow as pa
    return pa.schema([("url", pa.string()),
                      ("warc_ts", pa.timestamp("us", tz="UTC")),
                      ("html", pa.binary()), ("text", pa.string()),
                      ("lang", pa.string())])


def _write_files(rows: list, path: str, n_files: int,
                 mtime_base: int | None = None) -> None:
    """rows cut into n_files consecutive parquet files (atomic publish);
    with mtime_base the files get strictly increasing mtimes in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tmp = _fresh(path)
    os.makedirs(tmp)
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        f = os.path.join(tmp, f"part-{k:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows[k * per:(k + 1) * per],
                                            schema=_pages_schema()), f)
        if mtime_base is not None:
            os.utime(f, (mtime_base + 10 * k, mtime_base + 10 * k))
    _publish(tmp, path)


def pages(work: str, seed: int, n: int) -> str:
    """Parquet pages corpus of ``synth.page_rows`` -- the row generator
    behind ``synth.pages_df`` (same rows for any partitioning) -- written
    driver-side so no Spark job runs before set-up is timed."""
    path = os.path.join(work, "inputs", f"pages_s{seed}_n{n}")
    if not os.path.isdir(path):
        _write_files(synth_rows(n, seed), path, PAGE_FILES)
    return path


def row_key(url, ts, keep, rules, scrubbed) -> tuple:
    """Canonical per-row record the output checks compare."""
    sha = (None if scrubbed is None
           else hashlib.sha256(scrubbed.encode("utf-8")).hexdigest())
    ts_s = None if ts is None else ts.strftime("%Y-%m-%d %H:%M:%S")
    return (url or "", ts_s or "", bool(keep), tuple(sorted(rules or ())),
            sha or "")


def digest(records) -> str:
    h = hashlib.sha256()
    for rec in sorted(records):
        h.update(json.dumps(rec).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def oracle_digest(work: str, seed: int, n: int) -> dict:
    """Expected pages_run output per seed: row digest and counts from the
    pure-Python oracle (about 1 ms per doc, so it is cached)."""
    from qualityspark import oracle
    path = os.path.join(work, "inputs", f"oracle_s{seed}_n{n}.json")
    if not os.path.exists(path):
        rows = synth_rows(n, seed)
        recs = [row_key(row["url"], row["warc_ts"], o["keep"], o["rules"],
                        o["scrubbed_text"])
                for row, o in zip(rows, oracle.audit_rows(rows))]
        out = {"digest": digest(recs), "n": n}
        tmp = _fresh(path)
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


def stream_files(work: str, seed: int, n: int) -> str:
    """The pages corpus in ``warc_ts`` order (NULL first), cut into
    STREAM_FILES parquet files whose mtimes follow that order (the file
    source replays files by modification time)."""
    path = os.path.join(work, "inputs", f"stream_s{seed}_n{n}")
    if not os.path.isdir(path):
        rows = sorted(synth_rows(n, seed),
                      key=lambda r: (r["warc_ts"] is not None,
                                     r["warc_ts"] or dt.datetime.min))
        _write_files(rows, path, STREAM_FILES, mtime_base=1_600_000_000)
    return path


def stream_expected_rows(seed: int, n: int, per_trigger: int = 16,
                         delay_s: int = 3600) -> int:
    """Rows ``stream_audit`` must emit for ``stream_files(seed, n)``:
    replays the micro-batches (``per_trigger`` files each) through
    Structured Streaming's ``dropDuplicatesWithinWatermark`` rules.  The
    watermark starts at the epoch and, before each batch, moves to the max
    event time seen so far minus the delay.  A row at or below the
    previous batch's watermark is late and dropped; a row whose dedup key
    is in state is dropped; a key stays in state until the watermark
    reaches its first event time plus the delay (evicted at the end of a
    batch)."""
    from qualityspark import textstats as T
    rows = sorted(synth_rows(n, seed),
                  key=lambda r: (r["warc_ts"] is not None,
                                 r["warc_ts"] or dt.datetime.min))
    per = -(-len(rows) // STREAM_FILES)
    files = [rows[k * per:(k + 1) * per] for k in range(STREAM_FILES)]
    delay = dt.timedelta(seconds=delay_s)
    wm_late = wm = dt.datetime(1970, 1, 1)
    state, out = {}, 0
    for b in range(0, STREAM_FILES, per_trigger):
        batch = [r for f in files[b:b + per_trigger] for r in f]
        for r in batch:
            ts, url = r["warc_ts"], r["url"]
            if ts is not None and ts <= wm_late:
                continue
            if url is None or T.is_null_like(url):
                text = r["text"]
                raw = ("~nulltext~" if text is None else
                       hashlib.sha256(text.encode("utf-8")).hexdigest())
                key = ("~nullurl~", raw, ts)
            else:
                key = url
            if key in state:
                continue
            state[key] = None if ts is None else ts + delay
            out += 1
        state = {k: e for k, e in state.items() if e is None or e > wm}
        seen = [r["warc_ts"] for r in batch if r["warc_ts"] is not None]
        wm_late = wm
        if seen:
            wm = max(wm, max(seen) - delay)
    return out


def synth_rows(n: int, seed: int) -> list:
    from qualityspark import synth
    return list(synth.page_rows(n, seed))


def resume_template(spark, work: str, seed: int, n: int, pages_dir: str,
                    run_resumable, scratch: str) -> str:
    """Crash a run after RESUME_FAIL_AFTER chunk commits (into ``scratch``)
    and return the template output dir of the seed: the first such crash,
    kept.

    The program writes every chunk's data in one job and only then commits
    the manifests one by one, so the crash leaves complete data for the
    uncommitted chunks too.  Those chunk dirs are removed, as after a crash
    during the write job: a resume can then only pass the output check if
    it really rewrites them."""
    path = os.path.join(work, "inputs", f"resume_s{seed}_n{n}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        run_resumable(spark, spark.read.parquet(pages_dir), scratch,
                      chunks=CHUNKS, fail_after=RESUME_FAIL_AFTER)
    except RuntimeError as e:
        if "simulated crash" not in str(e):
            raise
    else:
        raise RuntimeError("resume template run did not crash")
    committed = {os.path.basename(f)[:-len(".json")] for f in glob.glob(
        os.path.join(scratch, "_manifest", "*.json"))}
    for d in glob.glob(os.path.join(scratch, "data", "chunk=*")):
        if d.rsplit("=", 1)[1] not in committed:
            shutil.rmtree(d)
    if os.path.isdir(path):
        shutil.rmtree(scratch)
    else:
        os.replace(scratch, path)
    return path


# ---------------------------------------------------------------- CSV --

CSV_COLS = 30
# planted defect -> (column, check id it must raise)
CSV_PLANTED = [
    ("amount", "OUTLIER_IQR"),
    ("amount", "OUTLIER_ZSCORE"),
    ("status", "NULL_LIKE_STRINGS"),
    ("category", "CASE_INCONSISTENCY"),
    ("category", "TYPO_CANDIDATES"),
    ("signup_date", "DATE_FORMAT_MIX"),
    ("email", "EMAIL_FORMAT"),
    ("phone", "PHONE_FORMAT"),
]

_CATS = ["Electronics", "Books", "Toys", "Garden", "Kitchen"]
_STATUS = ["active", "inactive", "pending", "closed"]
_REGIONS = ["north", "south", "east", "west"]
_FIRST = ["ana", "luis", "maria", "jose", "carmen", "pedro", "lucia"]


def _csv_row(i: int, rng: random.Random, cols: int) -> list:
    amount = round(rng.gauss(100.0, 15.0), 2)
    if i % 97 == 5:
        amount = round(amount * 40, 2)                 # numeric outlier
    cat = _CATS[i % len(_CATS)]
    if i % 23 == 3:
        cat = cat.lower()                               # case variant
    elif i % 31 == 7:
        cat = cat[:3] + cat[4:]                         # one-letter typo
    status = _STATUS[rng.randrange(len(_STATUS))]
    if i % 19 == 2:
        status = rng.choice(["n/a", "NULL", "unknown"])  # null-like token
    d = dt.date(2023, 1, 1) + dt.timedelta(days=i % 700)
    signup = (d.strftime("%d/%m/%Y") if i % 7 == 0
              else d.isoformat())                       # mixed formats
    name = _FIRST[i % len(_FIRST)]
    email = (f"{name}{i}@example.com" if i % 29 != 4
             else f"{name}{i}-at-example")              # invalid email
    phone = (f"+34 6{i % 100:02d} {i % 1000:03d} {(i * 7) % 1000:03d}"
             if i % 37 != 9 else "call-me")             # invalid phone
    row = [f"C{i:07d}", f"{amount:.2f}", cat, status, signup, email, phone,
           _REGIONS[i % 4], str(rng.randint(18, 90)),
           f"{rng.random():.4f}", "true" if i % 3 else "false",
           (d + dt.timedelta(days=rng.randint(0, 30))).isoformat()
           + f" {i % 24:02d}:{i % 60:02d}:00",
           str(rng.randint(0, 5)), f"{rng.gauss(50, 10):.3f}",
           f"SKU-{rng.randint(1, 400):04d}"]
    # numeric measurements fill the rest of the width
    row += [f"{rng.gauss(10 * k, 3 + k):.3f}"
            for k in range(cols - len(row))]
    return row[:cols]


_CSV_NAMES = ["customer_id", "amount", "category", "status", "signup_date",
              "email", "phone", "region", "age", "ratio", "active",
              "last_seen", "visits", "score", "sku"]


def csv_header(cols: int) -> list[str]:
    return (_CSV_NAMES + [f"m{k:02d}" for k in range(cols)])[:cols]


def audit_csv_file(work: str, seed: int, n: int,
                   cols: int = CSV_COLS) -> str:
    """CSV of n rows and ``cols`` columns (at least the 7 planted-defect
    columns) with the CSV_PLANTED defects."""
    path = os.path.join(work, "inputs", f"audit_s{seed}_n{n}_c{cols}.csv")
    if not os.path.exists(path):
        rng = random.Random(seed)
        tmp = _fresh(path)
        with open(tmp, "w") as f:
            f.write(",".join(csv_header(cols)) + "\n")
            for i in range(n):
                f.write(",".join(_csv_row(i, rng, cols)) + "\n")
        os.replace(tmp, path)
    return path
