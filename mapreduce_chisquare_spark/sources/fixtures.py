"""Driver-table-derived on-disk fixtures, cached under <repo>/.cache.

The driver ships parquet only, but two surfaces need real files:

- S1/S2 (NDJSON scan, chi_square.py:30-33): an NDJSON twin of the
  `documents` table, with malformed / missing-field lines injected so
  the PERMISSIVE + nonempty-filter path (the tolerant reference
  semantics, multi_jobs_hdfs.py:92-94) is exercised against real bytes.
- The streaming sessionizer: a copy of the events stream plus one
  end-of-stream sentinel event per user, so every real session closes
  and the stateful operator's output is exactly comparable to the
  batch/SQL session-window oracle.

This is test plumbing only — in production `scan_json_reviews` points
at the raw NDJSON path and streams never end. Files are derived
deterministically from the parquet inputs and written atomically
(tmp + rename), so concurrent query runs converge on identical bytes.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyarrow.parquet as pq

from .readers import ts_unit

_REPO_ROOT = Path(__file__).resolve().parents[2]
_CACHE = _REPO_ROOT / ".cache"

# Injected NDJSON pathologies (one of each tolerant-path branch).
_BAD_LINES = [
    '{"this is not json',                        # malformed → all-null row
    '{"reviewText": "orphan text, no category"}',  # missing field → null
    '{"doc_id": -7, "reviewText": "", "category": ""}',  # empty → F4 drop
]

GAP_SECONDS = 300  # keep in sync with streaming.sessionize.GAP_SECONDS


def _atomic_publish(tmp: Path, dst: Path) -> None:
    os.replace(tmp, dst)


def ndjson_documents(sf_dir: str) -> str:
    """Materialize documents.parquet as NDJSON reviews (+ bad lines);
    returns the cached file path."""
    tag = Path(sf_dir).name
    dst = _CACHE / f"reviews_{tag}.ndjson"
    if dst.exists():
        return str(dst)
    _CACHE.mkdir(exist_ok=True)
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    tmp = dst.with_suffix(f".tmp{os.getpid()}")
    with open(tmp, "w", encoding="utf-8") as f:
        for i, row in enumerate(tbl.to_pylist()):
            f.write(
                json.dumps(
                    {
                        "doc_id": row["doc_id"],
                        "reviewText": row["text"],
                        "category": row["lang"],
                    },
                    ensure_ascii=False,
                )
                + "\n"
            )
            if i % 100 == 0:  # sprinkle pathologies through the file
                f.write(_BAD_LINES[(i // 100) % len(_BAD_LINES)] + "\n")
    _atomic_publish(tmp, dst)
    return str(dst)


# Injected CSV pathologies: every one must be DROPPED by the caller's
# null/empty filter so the scan result stays comparable to the parquet
# twin. One of each branch: non-numeric doc_id (schema-cast null),
# truncated row (missing columns -> nulls), and a QUOTED field with
# embedded comma + escaped quote so the quote/escape path is exercised
# (its doc_id is non-numeric, so it is dropped too).
_BAD_CSV_ROWS = [
    'not_a_number,orphan text,en',
    '-12,',
    'x1,"quoted, with comma and ""escaped"" quote",de',
]


def csv_documents(sf_dir: str) -> str:
    """Materialize documents.parquet as CSV (doc_id,text,lang — no
    header) with malformed rows injected; returns the cached path.
    Texts in the driver tables contain no commas/quotes/newlines, so
    well-formed rows need no quoting and the file round-trips
    bit-exactly; the injected rows carry the quoting pathologies."""
    tag = Path(sf_dir).name
    dst = _CACHE / f"documents_{tag}.csv"
    if dst.exists():
        return str(dst)
    _CACHE.mkdir(exist_ok=True)
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    tmp = dst.with_suffix(f".tmp{os.getpid()}")
    with open(tmp, "w", encoding="utf-8") as f:
        for i, row in enumerate(tbl.to_pylist()):
            f.write(f'{row["doc_id"]},{row["text"]},{row["lang"]}\n')
            if i % 150 == 0:
                f.write(_BAD_CSV_ROWS[(i // 150) % len(_BAD_CSV_ROWS)] + "\n")
    _atomic_publish(tmp, dst)
    return str(dst)


def table_multifile_dir(
    sf_dir: str, table: str, parts: int = 4
) -> str:
    """Split <table>.parquet row-wise into `parts` files so a file
    source delivers several micro-batches (maxFilesPerTrigger=1) —
    the streaming fixtures' input."""
    import pyarrow.parquet as pqm

    tag = Path(sf_dir).name
    stem = "docs" if table == "documents" else table
    d = _CACHE / f"{stem}_stream_{tag}_{parts}"
    done = d / "_FIXTURE_READY"
    if done.exists():
        return str(d)
    _CACHE.mkdir(exist_ok=True)
    d.mkdir(exist_ok=True)
    tbl = pqm.read_table(f"{sf_dir}/{table}.parquet")
    step = max(1, -(-tbl.num_rows // parts))
    for i in range(parts):
        chunk = tbl.slice(i * step, step)
        if chunk.num_rows == 0:
            break
        tmp = d / f"part{i}.tmp{os.getpid()}"
        pqm.write_table(chunk, tmp)
        _atomic_publish(tmp, d / f"part{i}.parquet")
    done.touch()
    return str(d)


def docs_multifile_dir(sf_dir: str, parts: int = 4) -> str:
    """Split documents.parquet row-wise into `parts` files so a file
    source delivers several micro-batches (maxFilesPerTrigger=1) —
    the incremental-χ² pipeline's input."""
    return table_multifile_dir(sf_dir, "documents", parts)


# Bump when the fixture layout or the sentinel's type convention
# changes: the READY marker records "<fmt>:<source ts unit>", and a
# mismatch (older builder, or the source file's ts type changed)
# forces a rebuild instead of serving a stale-format cache.
_STREAM_FIXTURE_FMT = "v2"


def events_stream_dir(sf_dir: str) -> str:
    """Build <cache>/stream_events_<sf>/ = events.parquet (hardlinked or
    copied) + a sentinel parquet with one event per user at
    global_max_ts + GAP, so the sessionizer closes every real session.
    Returns the directory path for a file-source readStream."""
    import pyarrow as pa

    tag = Path(sf_dir).name
    d = _CACHE / f"stream_events_{tag}"
    done = d / "_FIXTURE_READY"
    src = Path(sf_dir) / "events.parquet"
    unit = ts_unit(str(src))
    stamp = f"{_STREAM_FIXTURE_FMT}:{unit}"
    if done.exists() and done.read_text() == stamp:
        return str(d)
    _CACHE.mkdir(exist_ok=True)
    if d.exists():  # stale format/unit → rebuild from scratch
        import shutil

        shutil.rmtree(d)
    d.mkdir(exist_ok=True)
    ev_dst = d / "events.parquet"
    if not ev_dst.exists():
        tmp = d / f"events.tmp{os.getpid()}"
        try:
            os.link(src, tmp)
        except OSError:
            import shutil

            shutil.copyfile(src, tmp)
        _atomic_publish(tmp, ev_dst)

    tbl = pq.read_table(src, columns=["ts", "user_id"])
    src_ts_type = tbl.schema.field("ts").type
    per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
    ts_raw = tbl.column("ts").cast(pa.int64())
    max_raw = pa.compute.max(ts_raw).as_py()
    users = sorted(set(tbl.column("user_id").to_pylist()))
    sentinel_raw = max_raw + GAP_SECONDS * per_sec
    # Sentinel ts carries the SAME arrow type as the source file so the
    # directory is unit- and type-homogeneous for the stream reader
    # (ns sources are int64-read, µs sources typed-read).
    sent_ts = pa.array([sentinel_raw] * len(users), pa.int64())
    if unit != "ns":
        sent_ts = sent_ts.cast(src_ts_type)
    sent = pa.table(
        {
            "event_id": pa.array(
                [-(i + 1) for i in range(len(users))], pa.int64()
            ),
            "ts": sent_ts,
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(["__sentinel__"] * len(users)),
            "value": pa.array([0.0] * len(users), pa.float64()),
            "props": pa.array(["{}"] * len(users)),
        }
    )
    tmp = d / f"sentinel.tmp{os.getpid()}"
    pq.write_table(sent, tmp)
    _atomic_publish(tmp, d / "zz_sentinels.parquet")
    done.write_text(stamp)
    return str(d)


# Injected WARC pathologies, one per tolerant-path branch: a record
# whose Content-Length disagrees with its body (truncated transfer), a
# record with no Content-Length header at all, and a non-response
# record (request) that carries no document payload. Every one must be
# DROPPED by the reader's validation so the scan result stays
# comparable to the parquet twin.
def _warc_record(headers: list, body: str) -> str:
    return (
        "WARC/1.0\r\n"
        + "".join(h + "\r\n" for h in headers)
        + "\r\n"
        + body
        + "\r\n\r\n"
    )


def warc_documents(sf_dir: str) -> str:
    """Materialize documents.parquet as a WARC-style response archive
    (one record per document, CRLF headers, Content-Length stated,
    pathological records injected); returns the cached file path.
    Fixture texts are single-line (no CR/LF), so the record boundary
    'WARC/1.0' never appears inside a payload — the precondition the
    splittable lineSep scan documents."""
    tag = Path(sf_dir).name
    dst = _CACHE / f"documents_{tag}.warc"
    if dst.exists():
        return str(dst)
    _CACHE.mkdir(exist_ok=True)
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    bad = [
        _warc_record(  # Content-Length disagrees with the body
            [
                "WARC-Type: response",
                "WARC-Target-URI: https://example.com/docs/p90000001",
                "WARC-Lang: xx",
                "Content-Length: 999",
            ],
            "truncated body",
        ),
        _warc_record(  # no Content-Length at all
            [
                "WARC-Type: response",
                "WARC-Target-URI: https://example.com/docs/p90000002",
                "WARC-Lang: xx",
            ],
            "unframed body",
        ),
        _warc_record(  # request record: no document payload
            [
                "WARC-Type: request",
                "WARC-Target-URI: https://example.com/docs/p90000003",
                "Content-Length: 0",
            ],
            "",
        ),
    ]
    tmp = dst.with_suffix(f".tmp{os.getpid()}")
    with open(tmp, "w", encoding="utf-8", newline="") as f:
        for i, row in enumerate(tbl.to_pylist()):
            if row["text"] is None:
                continue  # a response record needs a payload
            f.write(
                _warc_record(
                    [
                        "WARC-Type: response",
                        "WARC-Target-URI: "
                        f"https://example.com/docs/p{row['doc_id']}",
                        f"WARC-Lang: {row['lang']}",
                        "Content-Length: "
                        f"{len(row['text'].encode('utf-8'))}",
                    ],
                    row["text"],
                )
            )
            if i % 100 == 0:
                f.write(bad[(i // 100) % len(bad)])
    _atomic_publish(tmp, dst)
    return str(dst)
