"""Benchmark inputs and their expected outputs.

Every page is a pure function of (mix, seed, page index): each page draws
from its own ``random.Random`` seeded with that triple, so the same seed
always yields the same parquet files regardless of page count or order.

Two line mixes:

- ``logs``: the line mix ``logport_spark.datagen._gen_doc`` has always
  benched (10% empty lines, 5% escape-heavy lines, 25% canonical JSON
  objects/arrays, 5% malformed candidates, 0.5% card-number objects, the
  rest access-log lines; 30% of pages on the hot domain). About 34% of
  non-empty lines start with ``{``/``[`` and 16% of those fail to parse.
- ``json``: structured JSON logs. ~85% objects with shuffled key order and
  irregular spacing, nested objects, 40-bit ints, a float in ~30% of them,
  and ``\\uXXXX`` escapes including surrogate pairs; ~10% malformed
  candidates; ~5% plain lines. The envelope must really re-serialize these.

Expected per-sink and per-bucket ``rows_routed`` / ``bytes_shipped`` /
``parse_failures`` and a fixed sample of envelope records come from the
pure-Python reference (``oracle.build_envelope`` / ``oracle.route_for``),
never from the Spark pipeline being measured.

Deliberate exclusion: no line carries a lone-surrogate escape such as
``{"a":"\\ud800"}``. At the time of writing that single line fails the
whole Spark job (``json_mid_udf`` raises ``UnicodeEncodeError`` at the
Arrow boundary) instead of falling back to a ``"log"`` envelope. It is a
known open defect, left out so the benchmark measures throughput rather
than that crash. Floats are drawn only where ``repr`` equals
``dtoa.nlohmann_repr``, because the oracle serializes with ``repr`` and the
pipeline with the reference's Grisu2; ints stay far below 2**64.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import zlib
from collections import defaultdict
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generator or the expected-output format changes
GEN_VERSION = 1
N_FILES = 8  # input parquet files (scan tasks); fixed so inputs never vary
N_BUCKETS = 64  # run_with_ledger's default ledger bucket count
SAMPLE_EVERY = 97  # pages whose first and last record are byte-checked

BASE_TS = datetime(2024, 8, 1, tzinfo=timezone.utc)
HOT_DOMAIN = "hot.example.com"
UNMATCHED_DOMAIN = "unknown.example.xyz"
TLDS = ["com", "org", "net", "io", "de", "fr", "shop"]
DOMAINS = [f"d{i:02d}.site{i % 9}.{TLDS[i % len(TLDS)]}" for i in range(50)]
LANGS = ["en", "de", "fr", "es", "zh", "ja", "pt", "ru"]

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu request response cache miss hit worker queue retry flush "
    "commit rollback shard replica leader follower region zone bucket object"
).split()
UNICODE_WORDS = ["café", "naïve", "Zürich", "東京", "Ωmega", "😀ok", "𝔘nicode", "ß"]
METHODS = ["GET", "POST", "PUT", "DELETE", "HEAD"]
LEVELS = ["info", "warn", "error", "debug", "trace"]
ESCAPE_LINES = [
    'path "C:\\tmp\\x" end',
    "tab\there and\ttab",
    'quote "q" back\\slash mix',
    "trailing space and \"quoted\" \\ done",
]
BAD_LOG_LINES = ['{"level":"info",', "[1,2", '{"a":}', "{broken", "[}"]
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _canon(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _page_head(rng: random.Random, seed: int, page: int) -> tuple[str, datetime, str]:
    r = rng.random()
    if r < 0.30:
        domain = HOT_DOMAIN
    elif r < 0.32:
        domain = UNMATCHED_DOMAIN
    else:
        domain = rng.choice(DOMAINS)
    lang = "xx" if rng.random() < 0.02 else rng.choice(LANGS)
    ts = BASE_TS + timedelta(seconds=rng.randrange(30 * 86400),
                             microseconds=rng.randrange(1_000_000))
    return f"https://{domain}/p/{seed}-{page}", ts, lang


def _log_line(rng: random.Random) -> str:
    p = rng.random()
    if p < 0.10:
        return ""
    if p < 0.15:
        return rng.choice(ESCAPE_LINES)
    if p < 0.35:
        obj = {"level": rng.choice(LEVELS), "msg": rng.choice(WORDS),
               "code": rng.randrange(100)}
        if rng.random() < 0.3:
            obj["ctx"] = {"attempt": rng.randrange(5), "src": rng.choice(WORDS)}
        return _canon(obj)
    if p < 0.40:
        return _canon([rng.randrange(1000), rng.choice(WORDS), {"k": rng.randrange(50)}])
    if p < 0.45:
        return rng.choice(BAD_LOG_LINES)
    if p < 0.455:
        return _canon({"card_number": "4111111111111111", "msg": "payment"})
    toks = [rng.choice(METHODS), f"/{rng.choice(WORDS)}/{rng.randrange(10000)}",
            str(rng.randrange(100, 600)), str(rng.randrange(1 << 20))]
    toks += [rng.choice(WORDS) for _ in range(rng.randrange(6))]
    return " ".join(toks)


def _float(rng: random.Random, repr_ok) -> float:
    """A float whose shortest repr is also the reference serializer's."""
    while True:
        x = round(rng.uniform(-1e4, 1e6), rng.randrange(7))
        if rng.random() < 0.3:
            x = rng.random() * 10.0 ** rng.randrange(-6, 14)
        if repr_ok(x):
            return x


def _value(rng: random.Random, repr_ok, depth: int):
    k = rng.random()
    if k < 0.35:
        w = rng.choice(UNICODE_WORDS) if rng.random() < 0.15 else rng.choice(WORDS)
        return f"{w} {rng.choice(WORDS)}" if rng.random() < 0.5 else w
    if k < 0.65:
        return rng.randrange(-(1 << 39), 1 << 40)
    if k < 0.72:
        return rng.choice([True, False, None])
    if k < 0.85 and depth < 2:
        return [_value(rng, repr_ok, depth + 1) for _ in range(rng.randrange(4))]
    if depth < 2:
        return {rng.choice(WORDS): _value(rng, repr_ok, depth + 1)
                for _ in range(rng.randrange(1, 4))}
    return rng.choice(WORDS)


def _dump(rng: random.Random, v) -> str:
    """Non-canonical JSON text for ``v``: irregular spacing, escaped or raw
    non-ASCII, numbers in a non-shortest but exact form."""
    if isinstance(v, dict):
        items = list(v.items())
        rng.shuffle(items)
        colon = rng.choice([":", ": ", " : "])
        comma = rng.choice([",", ", "])
        return "{" + comma.join(_dump(rng, k) + colon + _dump(rng, x) for k, x in items) + "}"
    if isinstance(v, list):
        return "[" + rng.choice([",", ", "]).join(_dump(rng, x) for x in v) + "]"
    if isinstance(v, str):
        if v.isascii():  # generated words never need escaping
            return '"' + v + '"'
        return json.dumps(v, ensure_ascii=rng.random() < 0.5)
    if isinstance(v, float):
        return rng.choice([repr(v), f"{v:.17g}", f"{v:.17e}"])
    if v is None or isinstance(v, bool):
        return json.dumps(v)
    return str(v)


def _json_line(rng: random.Random, repr_ok) -> str:
    p = rng.random()
    if p < 0.05:
        return (f"{rng.choice(LEVELS).upper()} {rng.choice(WORDS)} "
                f"{rng.choice(UNICODE_WORDS)} took {rng.randrange(5000)}ms")
    obj = {"level": rng.choice(LEVELS), "msg": f"{rng.choice(WORDS)} {rng.choice(WORDS)}",
           "req_id": rng.randrange(1 << 40), "status": rng.randrange(100, 600)}
    for key in rng.sample(["path", "user", "svc", "region", "tags", "bytes", "retry"],
                          rng.randrange(1, 5)):
        obj[key] = _value(rng, repr_ok, 1)
    obj["ctx"] = {"attempt": rng.randrange(5), "src": rng.choice(WORDS),
                  "peer": {"host": rng.choice(DOMAINS), "port": rng.randrange(65536)}}
    if rng.random() < 0.30:
        obj["latency_ms"] = _float(rng, repr_ok)
        if rng.random() < 0.3:
            obj["ctx"]["ratio"] = _float(rng, repr_ok)
    text = _dump(rng, obj)
    if p < 0.15:  # malformed candidate: still starts with '{', never parses
        while True:
            cut = rng.choice([
                text[: rng.randrange(1, len(text) - 1)],
                text[:-1] + ",}",
                text.replace('"', "'", 1),
                text + "}",
            ])
            try:
                json.loads(cut)
            except ValueError:
                return cut
    return text


def _page_text(mix: str, rng: random.Random, repr_ok) -> str:
    if mix == "logs":
        return "\n".join(_log_line(rng) for _ in range(rng.randrange(1, 41)))
    return "\n".join(_json_line(rng, repr_ok) for _ in range(rng.randrange(1, 31)))


def gen_page(mix: str, seed: int, page: int, repr_ok) -> dict:
    rng = random.Random(f"{mix}/{seed}/{page}")
    url, ts, lang = _page_head(rng, seed, page)
    return {"url": url, "warc_ts": ts, "html": b"", "text": _page_text(mix, rng, repr_ok),
            "lang": lang}


def _expected_chunk(pages: list[dict], first: int, oracle) -> dict:
    """Aggregates and sampled records of pages ``first, first+1, ...``,
    from the pure-Python reference semantics."""
    routes: dict[str, object] = {}
    per_sink: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    per_bucket = [[0, 0, 0] for _ in range(N_BUCKETS)]
    n_obj = 0
    sample = []
    for i, page in enumerate(pages, start=first):
        url = page["url"]
        domain = url.split("/")[2]
        if domain not in routes:
            routes[domain] = oracle.route_for(url)[1]
        spec = routes[domain]
        ts_str = oracle.format_timestamp(page["warc_ts"])
        bucket = zlib.crc32(url.encode()) % N_BUCKETS
        recs = []
        for line_no, line in enumerate(page["text"].split("\n"), start=1):
            if not line:
                continue
            record, is_obj, fail = oracle.build_envelope(
                line, ts_str, spec.hostname, url, spec.product_code, spec.log_type)
            nbytes = len(record.encode("utf-8")) + 1
            for agg in (per_sink[spec.sink], per_bucket[bucket]):
                agg[0] += 1
                agg[1] += nbytes
                agg[2] += int(fail)
            n_obj += int(is_obj)
            recs.append([url, line_no, spec.sink, record])
        if i % SAMPLE_EVERY == 0 and recs:
            sample.extend([recs[0]] + ([recs[-1]] if len(recs) > 1 else []))
    return {"pages": len(pages), "is_obj": n_obj, "per_sink": dict(per_sink),
            "per_bucket": per_bucket, "sample": sample}


def _gen_files(mix: str, seed: int, jobs: list[tuple[int, int, str]]) -> list[dict]:
    """Write pages [first, stop) of each job to its parquet file and return
    the expected-output chunks, in job order."""
    from logport_spark import oracle
    from logport_spark.operators.dtoa import nlohmann_repr

    repr_ok = lambda x: nlohmann_repr(x) == repr(x)
    chunks = []
    for first, stop, path in jobs:
        pages = [gen_page(mix, seed, i, repr_ok) for i in range(first, stop)]
        pq.write_table(pa.Table.from_pylist(pages, schema=PAGES_SCHEMA), path)
        chunks.append({"first": first, **_expected_chunk(pages, first, oracle)})
    return chunks


def _merge(chunks: list[dict]) -> dict:
    per_sink: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    per_bucket = [[0, 0, 0] for _ in range(N_BUCKETS)]
    for c in chunks:
        for sink, v in c["per_sink"].items():
            per_sink[sink] = [a + b for a, b in zip(per_sink[sink], v)]
        per_bucket = [[a + b for a, b in zip(x, y)] for x, y in zip(per_bucket, c["per_bucket"])]
    return {
        "pages": sum(c["pages"] for c in chunks),
        "rows": sum(v[0] for v in per_sink.values()),
        "bytes": sum(v[1] for v in per_sink.values()),
        "parse_failures": sum(v[2] for v in per_sink.values()),
        "is_obj": sum(c["is_obj"] for c in chunks),
        "per_sink": dict(sorted(per_sink.items())),
        "per_bucket": per_bucket,
        "sample": [r for c in chunks for r in c["sample"]],
    }


def ensure_input(work: str, mix: str, seed: int, n_pages: int, procs: int) -> tuple[str, dict]:
    """Generate (once) the pages table and its expected outputs with
    ``procs`` worker processes; return (pages dir, expected). Cached under
    ``work`` keyed by every input that determines them."""
    root = os.path.join(work, "inputs", f"{mix}-s{seed}-n{n_pages}-v{GEN_VERSION}")
    exp_path = os.path.join(root, "expected.json")
    if os.path.exists(exp_path):
        with open(exp_path, encoding="utf-8") as f:
            return os.path.join(root, "pages"), json.load(f)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    per_file = -(-n_pages // N_FILES)
    jobs = [(k * per_file, min(n_pages, (k + 1) * per_file),
             os.path.join(tmp, "pages", f"part-{k:03d}.parquet"))
            for k in range(N_FILES) if k * per_file < n_pages]
    # plain child processes, each waited for: a multiprocessing pool would
    # leave its resource tracker running past the end of the benchmark
    n_procs = max(1, min(procs, len(jobs)))
    children = []
    try:
        for k in range(n_procs):
            out = os.path.join(tmp, f"chunks-{k}.json")
            argv = [sys.executable, os.path.abspath(__file__), mix, str(seed), out]
            argv += [f"{a}:{b}:{path}" for a, b, path in jobs[k::n_procs]]
            children.append((subprocess.Popen(argv, stdin=subprocess.DEVNULL), out))
        for child, _ in children:
            if child.wait() != 0:
                raise RuntimeError(f"input generator exited {child.returncode}")
    finally:
        for child, _ in children:
            if child.poll() is None:
                child.kill()
                child.wait()
    chunks = []
    for _, out in children:
        with open(out, encoding="utf-8") as f:
            chunks.extend(json.load(f))
        os.remove(out)
    expected = _merge(sorted(chunks, key=lambda c: c["first"]))
    with open(os.path.join(tmp, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected, f, ensure_ascii=False)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return os.path.join(root, "pages"), expected


if __name__ == "__main__":
    # child of ensure_input: inputs.py MIX SEED OUT_JSON FIRST:STOP:PATH...
    mix_, seed_, out_ = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    jobs_ = []
    for arg in sys.argv[4:]:
        first_, stop_, path_ = arg.split(":", 2)
        jobs_.append((int(first_), int(stop_), path_))
    with open(out_, "w", encoding="utf-8") as f:
        json.dump(_gen_files(mix_, seed_, jobs_), f, ensure_ascii=False)
