"""Output checks, independent of Spark: the sink, ledger and broker files
are read back with pyarrow / plain file reads and compared with the
expected outputs from ``inputs``. Each check returns a list of problems;
an empty list means the job's output is correct."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from inputs import N_BUCKETS


def check_run(summary: dict, out_dir: str, exp: dict) -> list[str]:
    """``logport run`` output: every bucket committed, ledger == expected
    per bucket, sinks re-read == expected per sink == ledger totals, and
    sampled records byte-equal to the reference envelope."""
    bad = []
    led = ds.dataset(os.path.join(out_dir, "_ledger"), format="parquet").to_table(
        columns=["bucket", "rows_routed", "bytes_shipped", "parse_failures", "status"]
    ).to_pylist()
    if sorted(r["bucket"] for r in led) != list(range(N_BUCKETS)):
        bad.append(f"ledger buckets != 0..{N_BUCKETS - 1}")
    if any(r["status"] != "committed" for r in led):
        bad.append("uncommitted ledger rows")
    for r in led:
        want = exp["per_bucket"][r["bucket"]] if 0 <= r["bucket"] < N_BUCKETS else None
        got = [r["rows_routed"], r["bytes_shipped"], r["parse_failures"]]
        if got != want:
            bad.append(f"bucket {r['bucket']}: ledger {got} != expected {want}")
    totals = [sum(r[k] for r in led) for k in ("rows_routed", "bytes_shipped", "parse_failures")]
    if [summary.get("rows_routed"), summary.get("bytes_shipped"),
            summary.get("parse_failures")] != totals:
        bad.append(f"run summary {summary} != ledger totals {totals}")

    t = ds.dataset(os.path.join(out_dir, "sinks"), format="parquet",
                   partitioning="hive").to_table(
        columns=["sink", "url", "line_no", "record", "record_bytes", "is_obj", "parse_fail"])
    sink = t.column("sink").cast(pa.string())
    got_sinks = {}
    for name in pc.unique(sink).to_pylist():
        part = t.filter(pc.equal(sink, name))
        got_sinks[name] = [part.num_rows,
                           pc.sum(part.column("record_bytes")).as_py() + part.num_rows,
                           pc.sum(part.column("parse_fail").cast(pa.int64())).as_py()]
    if got_sinks != exp["per_sink"]:
        bad.append(f"sinks {got_sinks} != expected {exp['per_sink']}")
    reread = [t.num_rows, (pc.sum(t.column("record_bytes")).as_py() or 0) + t.num_rows,
              pc.sum(t.column("parse_fail").cast(pa.int64())).as_py()]
    if reread != totals:
        bad.append(f"sinks re-read {reread} != ledger totals {totals}")
    if t.num_rows and pc.sum(pc.binary_length(t.column("record").cast(pa.binary()))).as_py() \
            != pc.sum(t.column("record_bytes")).as_py():
        bad.append("record_bytes != octet length of record")
    n_obj = pc.sum(t.column("is_obj").cast(pa.int64())).as_py()
    if n_obj != exp["is_obj"]:
        bad.append(f"is_obj rows {n_obj} != expected {exp['is_obj']}")

    want = {(u, n): (s, r) for u, n, s, r in exp["sample"]}
    urls = pa.array(sorted({u for u, _ in want}))
    got = {(r["url"], r["line_no"]): (r["sink"], r["record"])
           for r in t.filter(pc.is_in(t.column("url"), value_set=urls)).to_pylist()}
    for key, rec in want.items():
        if got.get(key) is None or (str(got[key][0]), got[key][1]) != rec:
            bad.append(f"record {key}: {got.get(key)!r} != {rec!r}")
            break
    return bad


def udf_counts(out_dir: str) -> tuple[int, int]:
    """(parsed JSON rows, failed candidates) in the written sinks: every
    row the envelope sent to Python is one or the other."""
    t = ds.dataset(os.path.join(out_dir, "sinks"), format="parquet",
                   partitioning="hive").to_table(columns=["is_obj", "parse_fail"])
    return (pc.sum(t.column("is_obj").cast(pa.int64())).as_py() or 0,
            pc.sum(t.column("parse_fail").cast(pa.int64())).as_py() or 0)


_HEAD = '{"messages":['
_TAIL = '],"count":'


def check_ship(summary: dict, broker_dir: str, exp: dict) -> list[str]:
    """``deliver`` output: every batch acked, and the messages in the
    broker files equal the committed rows per sink (count and bytes), with
    the sampled records present in their sink's batches."""
    bad = []
    if set(summary) != {"ack"}:
        bad.append(f"delivery statuses {sorted(summary)} != ['ack']")
    ack = summary.get("ack", {})
    if ack.get("msgs") != exp["rows"]:
        bad.append(f"acked messages {ack.get('msgs')} != committed rows {exp['rows']}")
    files = 0
    blobs = {}
    got = {}
    for sink in sorted(os.listdir(broker_dir)):
        d = os.path.join(broker_dir, sink)
        bodies = []
        msgs = nbytes = 0
        for fn in os.listdir(d):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(d, fn), encoding="utf-8") as f:
                body = f.read()
            if not (body.startswith(_HEAD) and _TAIL in body and body.endswith("}")):
                bad.append(f"{sink}/{fn}: not a JSON wire batch")
                continue
            n = int(body[body.rindex(_TAIL) + len(_TAIL):-1])
            msgs += n
            # body = HEAD + n records joined by ',' + TAIL + str(n) + '}'
            nbytes += (len(body.encode("utf-8")) - len(_HEAD) - len(_TAIL)
                       - len(str(n)) - 1 - (n - 1))
            bodies.append(body)
        files += len(bodies)
        got[sink] = [msgs, nbytes + msgs]
        blobs[sink] = "\n".join(bodies)
    if files != ack.get("batches"):
        bad.append(f"broker files {files} != acked batches {ack.get('batches')}")
    want = {k: v[:2] for k, v in exp["per_sink"].items()}
    if got != want:
        bad.append(f"broker messages per sink {got} != committed {want}")
    for _, _, sink, record in exp["sample"]:
        if record not in blobs.get(sink, ""):
            bad.append(f"record missing from {sink}: {record[:80]!r}")
            break
    return bad
