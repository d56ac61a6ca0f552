"""Seeded input generator for the benchmark, with the ground truth it implies.

Every workload's inputs are a pure function of ``(workload, seed)``: the
same seed writes byte-identical files.  The generator also writes
``truth.json`` beside them, computed here in plain Python and numpy and
never by the program under test.  The program sees only the input files.

Input properties, and why each was chosen
------------------------------------------
log_scan (one job scans one partition file, the jobs cycle through them)
  * ``scan_parts`` files per preset of ``scan_lines`` lines each (see
    ``SIZES``; the same for every seed), all three
    presets (MySQL, Apache combined, syslog).  The size makes one warm job
    take well under a second on four cores, so a run holds enough jobs for
    a tail percentile; the same size for every seed keeps jobs comparable.
  * 4 % unmatched lines (stray text with no digits, some with surrounding
    blanks): they take the ``unmatched_lines`` route and trim.
  * 2 % empty and 2 % whitespace-only lines: skipped before the regex.
  * 5 % mid-line matches (a prefix before the record): unanchored find.
  * syslog days 1-9 are space-padded (``Aug  3``), as RFC 3164 writes them.
  * 5 % of MySQL queries carry a non-ASCII word, so the scan decodes UTF-8.
log_ingest (one job lands one batch, the jobs cycle through the batches)
  * gzip share: ``gz_files`` Apache access logs, each gzip-compressed, so
    the scan gets whole-file parallelism.  12 % of responses are 304s
    whose byte count is ``-``.
  * cp1251 share: one MySQL log with Cyrillic query text in code page
    1251, which routes ``read_log`` through the ``format("log")`` source.
    Queries carry planted e-mail addresses and IPv4 addresses for the
    redaction pass.
  * strict share: one clean syslog file (no unmatched line), read with
    ``error_on_mismatch=True``, which adds the line-number pass.  Messages
    come from ``len(SYSLOG_TEMPLATES)`` templates whose variable parts are
    numbers and addresses, so template mining finds a known count.
corpus_dedup (one job ingests one increment, the jobs cycle through them)
  * A standing corpus of ``standing_docs`` documents, fixed for the run.
  * Increments of ``INCREMENT_DOCS`` documents: 8 % re-sent unchanged
    standing documents (removed by the delta), 8 % exact copies of
    standing text under new ids, 4 % exact copies within the increment,
    8 % near-duplicates of standing documents and 4 % within the
    increment (3-shingle Jaccard 0.75-0.9, above the 0.6 threshold),
    6 % distractors (Jaccard below 0.4, kept), 6 % non-English documents
    and 6 % too-short documents (both dropped by the cleaning stage); the
    rest are fresh English documents.
  * ``emb_corpus`` 64-dimensional embeddings in ``EMB_CLUSTERS`` clusters
    and ``emb_queries`` queries, each a noisy copy of a corpus vector, so
    every query has planted neighbours.  The exact cosine top-``ANN_K`` is
    computed here in numpy.

Run ``python3 perfbench/gen.py --workload log_scan --seed 1 --out DIR`` to
write one workload's inputs by hand.
"""

from __future__ import annotations

import argparse
import calendar
import gzip
import json
import os
import random
import zlib
from datetime import date, datetime, timezone

import numpy as np

WORKLOADS = ("log_scan", "log_ingest", "corpus_dedup")

#: Input sizes; ``tiny`` is for the benchmark's own tests.
SIZES = {
    "full": {"scan_parts": 2, "scan_lines": 12_000, "batches": 3, "gz_files": 4,
             "gz_lines": 1_500, "cp1251_lines": 1_000, "strict_lines": 2_000,
             "standing_docs": 600, "increments": 3, "emb_corpus": 2_000,
             "emb_queries": 50},
    "tiny": {"scan_parts": 1, "scan_lines": 600, "batches": 1, "gz_files": 2,
             "gz_lines": 300, "cp1251_lines": 200, "strict_lines": 300,
             "standing_docs": 200, "increments": 1, "emb_corpus": 500,
             "emb_queries": 20},
}
INCREMENT_DOCS = 300
EMB_CLUSTERS = 60
EMB_DIM = 64
ANN_K = 5
JACCARD_THRESHOLD = 0.6

PRESETS = ("mysql", "apache", "syslog")

# Column kinds for the order-insensitive checksum (see ``row_hashes``):
# 'int' and 'date' (days since 1970) hash as 4-byte ints, 'ts' (micros
# since 1970) as an 8-byte long, 'str' as the crc32 of its UTF-8 bytes (a
# long).  NULL becomes -1 or ''.
KINDS = {
    "mysql": ("date", "int", "int", "str", "str", "str"),
    "apache": ("str", "str", "ts", "str", "str", "int", "int", "str"),
    "syslog": ("ts", "str", "str", "int", "str", "str"),
}

_MONTHS = [calendar.month_abbr[i] for i in range(1, 13)]
_WORDS = (
    "select insert update delete from where join table index users orders "
    "items session cache value limit order group count status token batch "
    "commit rollback lock wait read write host replica shard query plan"
).split()
_UTF8_WORDS = ("café", "naïve", "Zürich", "日本語", "Ωmega")
_CYR_WORDS = "выбрать таблица пользователь заказ строка значение ключ кэш".split()
_GARBAGE = (
    "--- log rotated by logrotate ---",
    "Tcp port: socket closed unexpectedly",
    "### server restart requested by admin ###",
    "warning: clock skew detected, resyncing",
    "   stray continuation of a wrapped line   ",
    "\tInnoDB: buffer pool dump completed\t",
)
_ACTIONS = ("Connect", "Query", "Quit", "Prepare", "Execute", "Statistics")
_METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE", "HEAD")
_PROCS = ("sshd", "CRON", "systemd-logind", "kernel", "postfix.smtpd", "nginx")
_HOSTS = ("web01", "web02", "db-primary", "lb-1", "cache.eu")

#: Syslog message skeletons; ``{n}``/``{ip}`` are the variable parts the
#: template miner masks.  No skeleton word holds a digit, so each skeleton
#: is exactly one mined template.
SYSLOG_TEMPLATES = (
    "Accepted publickey for deploy from {ip} port {n}",
    "Failed password for invalid user admin from {ip} port {n}",
    "session opened for user root by uid {n}",
    "connection from {ip} closed after {n} ms",
    "queue active nrcpt {n} size {n}",
    "worker process {n} exited with code {n}",
    "out of memory: killed process {n}",
    "disk usage at {n} percent on volume",
)

_JAVA_TRIM = "".join(chr(i) for i in range(0x21))
_EPOCH_DAY = date(1970, 1, 1).toordinal()


# --- Spark-compatible order-insensitive checksum -----------------------------

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_MASK32 = np.uint64(0xFFFFFFFF)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def xxh64_int(values: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each 4-byte int under its seed (Spark's ``hashInt``)."""
    h = seed + _P5 + np.uint64(4)
    h = h ^ ((values.astype(np.int64).view(np.uint64) & _MASK32) * _P1)
    h = _rotl(h, 23) * _P2 + _P3
    return _fmix(h)


def xxh64_long(values: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each 8-byte long under its seed (Spark's ``hashLong``)."""
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(values.astype(np.int64).view(np.uint64) * _P2, 31) * _P1)
    h = _rotl(h, 27) * _P1 + _P4
    return _fmix(h)


def crc32(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


def row_hashes(rows: list[tuple], kinds: tuple[str, ...]) -> np.ndarray:
    """Spark's ``xxhash64(c1, ..., cn)`` of each row, with the columns
    encoded as ``checksum_sql`` encodes them (seed 42, chained)."""
    with np.errstate(over="ignore"):
        h = np.full(len(rows), 42, dtype=np.uint64)
        for i, kind in enumerate(kinds):
            col = [r[i] for r in rows]
            if kind == "str":
                vals = np.array([crc32(v or "") for v in col], dtype=np.int64)
                h = xxh64_long(vals, h)
            elif kind == "ts":
                vals = np.array([-1 if v is None else v for v in col], dtype=np.int64)
                h = xxh64_long(vals, h)
            else:  # int, date (days since epoch)
                vals = np.array([-1 if v is None else v for v in col], dtype=np.int64)
                h = xxh64_int(vals, h)
        return h


def bit_xor(hashes: np.ndarray) -> int:
    """``bit_xor`` of the hashes as Spark's signed 64-bit result."""
    acc = np.bitwise_xor.reduce(hashes) if len(hashes) else np.uint64(0)
    return int(np.array([acc], dtype=np.uint64).view(np.int64)[0])


def checksum_sql(fields: list[str], kinds: tuple[str, ...], view: str) -> str:
    """The SQL whose result ``truth_summary`` predicts for ``view``."""
    enc = []
    for name, kind in zip(fields, kinds):
        c = f"`{name}`"
        if kind == "str":
            enc.append(f"crc32(coalesce({c}, ''))")
        elif kind == "ts":
            enc.append(f"coalesce(unix_micros({c}), -1)")
        elif kind == "date":
            enc.append(f"coalesce(unix_date({c}), -1)")
        else:
            enc.append(f"coalesce({c}, -1)")
    sums = []
    for name, kind in zip(fields, kinds):
        if kind == "str":
            sums.append("CAST(0 AS BIGINT)")
        else:
            val = {"ts": "unix_seconds", "date": "unix_date"}.get(kind, "")
            sums.append(f"coalesce(sum({val}(`{name}`)), 0)")
    return (
        f"SELECT count(*) AS n, count(`{fields[-1]}`) AS n_unmatched, "
        f"array({', '.join(sums)}) AS sums, "
        f"coalesce(bit_xor(xxhash64({', '.join(enc)})), 0) AS h FROM {view}"
    )


def truth_summary(rows: list[tuple], kinds: tuple[str, ...]) -> dict:
    sums = []
    for i, kind in enumerate(kinds):
        if kind == "str":
            sums.append(0)
        else:
            scale = 1_000_000 if kind == "ts" else 1
            sums.append(sum(r[i] // scale for r in rows if r[i] is not None))
    return {
        "n": len(rows),
        "n_unmatched": sum(1 for r in rows if r[-1] is not None),
        "sums": sums,
        "h": bit_xor(row_hashes(rows, kinds)),
    }


# --- log lines ---------------------------------------------------------------


def _unmatched(rng: random.Random, n_cols: int) -> tuple[str, tuple]:
    line = rng.choice(_GARBAGE)
    return line, (None,) * (n_cols - 1) + (line.strip(_JAVA_TRIM),)


def _mysql(rng: random.Random, words=_WORDS, extra=_UTF8_WORDS, pii=False) -> tuple[str, tuple, str]:
    d = date(2000 + rng.randrange(30), rng.randrange(1, 13), rng.randrange(1, 29))
    hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    pid = rng.randrange(1, 100_000)
    action = rng.choice(_ACTIONS)
    toks = [rng.choice(words) for _ in range(rng.randrange(3, 12))]
    red = list(toks)
    if rng.random() < 0.05:
        toks.append(rng.choice(extra))
        red.append(toks[-1])
    if pii:
        r = rng.random()
        if r < 0.3:
            email = f"{rng.choice(('ivan', 'olga', 'root'))}.{rng.randrange(100)}@mail.example.ru"
            toks.append(email)
            red.append("<EMAIL>")
        elif r < 0.5:
            ip = ".".join(str(rng.randrange(256)) for _ in range(4))
            toks.append(ip)
            red.append("<IP>")
    toks.append(f"id = {rng.randrange(1_000_000)}")
    red.append(toks[-1])
    query = " ".join(toks)
    pad = " " * rng.randrange(1, 8)
    line = f"{d:%y%m%d} {hh:02d}:{mm:02d}:{ss:02d}{pad}{pid} {action}{' ' * rng.randrange(1, 6)}{query}"
    row = (
        d.toordinal() - _EPOCH_DAY,
        (hh * 3600 + mm * 60 + ss) * 1000,
        pid,
        action,
        query,
        None,
    )
    return line, row, " ".join(red)


def _apache(rng: random.Random) -> tuple[str, tuple]:
    ip = ".".join(str(rng.randrange(1, 255)) for _ in range(4))
    user = rng.choice(("-", "-", "-", "alice", "bob", "svc-backup"))
    ts = datetime(2024, rng.randrange(1, 13), rng.randrange(1, 29), rng.randrange(24),
                  rng.randrange(60), rng.randrange(60), tzinfo=timezone.utc)
    method = rng.choice(_METHODS)
    path = "/" + "/".join(rng.choice(_WORDS) for _ in range(rng.randrange(1, 4)))
    if rng.random() < 0.3:
        path += f"?page={rng.randrange(100)}"
    if rng.random() < 0.12:
        status, nbytes, nb = 304, None, "-"
    else:
        status = rng.choice((200, 200, 200, 201, 301, 404, 500))
        nbytes = rng.randrange(0, 500_000)
        nb = str(nbytes)
    line = (
        f'{ip} - {user} [{ts:%d}/{_MONTHS[ts.month - 1]}/{ts:%Y:%H:%M:%S} +0000] '
        f'"{method} {path} HTTP/1.1" {status} {nb} "-" "Mozilla/5.0 (X11; Linux)"'
    )
    row = (ip, user, int(ts.timestamp()) * 1_000_000, method, path, status, nbytes, None)
    return line, row


def _syslog(rng: random.Random) -> tuple[str, tuple]:
    month = rng.randrange(1, 13)
    day = rng.randrange(1, 29)
    hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    host = rng.choice(_HOSTS)
    proc = rng.choice(_PROCS)
    pid = rng.randrange(1, 65536) if proc != "CRON" else None
    tpl = rng.randrange(len(SYSLOG_TEMPLATES))
    msg = SYSLOG_TEMPLATES[tpl]
    while "{n}" in msg or "{ip}" in msg:
        if "{ip}" in msg:
            msg = msg.replace("{ip}", ".".join(str(rng.randrange(1, 255)) for _ in range(4)), 1)
        else:
            msg = msg.replace("{n}", str(rng.randrange(100_000)), 1)
    stamp = f"{_MONTHS[month - 1]} {day:>2d} {hh:02d}:{mm:02d}:{ss:02d}"
    tag = proc if pid is None else f"{proc}[{pid}]"
    line = f"{stamp} {host} {tag}: {msg}"
    ts = datetime(1970, month, day, hh, mm, ss, tzinfo=timezone.utc)
    row = (int(ts.timestamp()) * 1_000_000, host, proc, pid, msg, None)
    return line, row, tpl


_MIDLINE = {"mysql": "[mysqld-2] ", "apache": "lb01: ", "syslog": "<34>"}


def scan_lines(preset: str, n: int, rng: random.Random) -> tuple[list[str], list[tuple]]:
    """``n`` physical lines of ``preset`` with the stated dirt rates, and
    the rows ``read_log`` must return for them, in file order."""
    lines, rows = [], []
    n_cols = len(KINDS[preset])
    for _ in range(n):
        r = rng.random()
        if r < 0.02:
            lines.append("")
            continue
        if r < 0.04:
            lines.append(rng.choice((" ", "\t", "  \t  ")))
            continue
        if r < 0.08:
            line, row = _unmatched(rng, n_cols)
        elif preset == "mysql":
            line, row, _ = _mysql(rng)
        elif preset == "apache":
            line, row = _apache(rng)
        else:
            line, row, _ = _syslog(rng)
        if row[-1] is None and r < 0.13:
            line = _MIDLINE[preset] + line
        lines.append(line)
        rows.append(row)
    return lines, rows


# --- documents and embeddings ------------------------------------------------

_EN_STOP = ("the", "of", "a", "is")
_DE_STOP = ("der", "die", "das", "und")


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randrange(4, 9))))
    return sorted(out)


def _doc(rng: random.Random, vocab: list[str], n_tok: int, stop=_EN_STOP) -> list[str]:
    toks = [rng.choice(vocab) for _ in range(n_tok)]
    for i in range(0, n_tok, 9):  # ~11 % marker words: language evidence
        toks[i] = rng.choice(stop)
    return toks


def _shingles(toks: list[str], n: int = 3) -> set:
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def _variant(rng: random.Random, toks: list[str], vocab: list[str], lo: float, hi: float) -> list[str]:
    """A copy of ``toks`` with words replaced until the 3-shingle Jaccard
    to the original falls in ``[lo, hi]``."""
    share = (0.01, 0.08) if lo >= JACCARD_THRESHOLD else (0.2, 0.5)
    # marker positions (see _doc) stay, so the variant keeps its language
    free = [i for i in range(len(toks)) if i % 9]
    for _ in range(200):
        out = list(toks)
        for i in rng.sample(free, max(1, int(len(out) * rng.uniform(*share)))):
            out[i] = rng.choice(vocab)
        if lo <= jaccard(toks, out) <= hi:
            return out
    raise RuntimeError("could not plant a variant at the requested Jaccard")


def corpus_inputs(seed: int, size: dict) -> tuple[dict, dict]:
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    standing = []
    n_standing, n_emb, n_q = size["standing_docs"], size["emb_corpus"], size["emb_queries"]
    for i in range(n_standing):
        standing.append((i, _doc(rng, vocab, rng.randrange(40, 160)), f"src{i % 4}"))
    increments, truths = [], []
    next_id = 1_000_000
    for inc in range(size["increments"]):
        docs: list[tuple[int, list[str], str]] = []
        expected: dict[int, int] = {}
        planted_near: list[list[int]] = []
        exact_ids: list[int] = []
        fresh: list[tuple[int, list[str]]] = []
        plan = (
            ["resend"] * 24 + ["exact_standing"] * 24 + ["near_standing"] * 24
            + ["distractor"] * 18 + ["non_en"] * 18 + ["short"] * 18
        )
        plan += ["fresh"] * (INCREMENT_DOCS - len(plan) - 24)
        rng.shuffle(plan)
        for kind in plan:
            if kind == "resend":
                d = standing[rng.randrange(n_standing)]
                if any(x[0] == d[0] for x in docs):
                    continue
                docs.append(d)
                continue
            did = next_id
            next_id += 1
            src = f"src{did % 4}"
            if kind == "fresh":
                toks = _doc(rng, vocab, rng.randrange(40, 160))
                fresh.append((did, toks))
                expected[did] = len(toks)
            elif kind == "exact_standing":
                toks = list(rng.choice(standing)[1])
                exact_ids.append(did)
            elif kind == "near_standing":
                base = rng.choice(standing)
                toks = _variant(rng, base[1], vocab, 0.75, 0.9)
                planted_near.append([base[0], did])
            elif kind == "distractor":
                toks = _variant(rng, rng.choice(standing)[1], vocab, 0.05, 0.4)
                expected[did] = len(toks)
            elif kind == "non_en":
                toks = _doc(rng, vocab, rng.randrange(40, 160), stop=_DE_STOP)
            else:
                toks = _doc(rng, vocab, rng.randrange(5, 15))
            docs.append((did, toks, src))
        # within-increment duplicates: a copy (exact) or a variant (near) of
        # a fresh document, under a higher id, so the fresh one survives
        for j in range(24):
            base_id, base_toks = fresh[j]
            did = next_id
            next_id += 1
            if j % 2 == 0:
                docs.append((did, list(base_toks), f"src{did % 4}"))
                exact_ids.append(did)
            else:
                docs.append((did, _variant(rng, base_toks, vocab, 0.75, 0.9), f"src{did % 4}"))
                planted_near.append([base_id, did])
        increments.append(docs)
        truths.append({
            "expected_tokens": {str(k): v for k, v in sorted(expected.items())},
            "planted_near_dups": planted_near,
            "planted_exact_dups": exact_ids,
        })

    nrng = np.random.default_rng(seed)
    centers = nrng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    labels = nrng.integers(0, EMB_CLUSTERS, n_emb)
    corpus = (centers[labels] + 0.6 * nrng.standard_normal((n_emb, EMB_DIM))).astype(np.float32)
    picks = nrng.choice(n_emb, n_q, replace=False)
    queries = (corpus[picks] + 0.05 * nrng.standard_normal((n_q, EMB_DIM))).astype(np.float32)
    c64, q64 = corpus.astype(np.float64), queries.astype(np.float64)
    sims = (q64 @ c64.T) / np.outer(np.linalg.norm(q64, axis=1), np.linalg.norm(c64, axis=1))
    order = np.lexsort((np.tile(np.arange(n_emb), (n_q, 1)), -sims), axis=1)[:, :ANN_K]
    topk = {str(1_000_000 + q): [int(i) for i in order[q]] for q in range(n_q)}
    data = {"standing": standing, "increments": increments, "corpus": corpus, "queries": queries}
    truth = {"increments": truths, "ann_topk": topk, "ann_k": ANN_K,
             "jaccard_threshold": JACCARD_THRESHOLD}
    return data, truth


# --- writers -----------------------------------------------------------------


def _write_lines(path: str, lines: list[str], encoding: str = "utf-8", gz: bool = False) -> None:
    data = ("\n".join(lines) + "\n").encode(encoding)
    if gz:
        # mtime=0 and no file name: the same lines give the same bytes
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0, filename="") as fh:
            fh.write(data)
    else:
        with open(path, "wb") as fh:
            fh.write(data)


def _write_docs(path: str, docs: list[tuple[int, list[str], str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([" ".join(d[1]) for d in docs], pa.string()),
        "source": pa.array([d[2] for d in docs], pa.string()),
    })
    pq.write_table(table, path)


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    pq.write_table(table, path)


def generate(workload: str, seed: int, out: str, tiny: bool = False) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out``; return the truth."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out, exist_ok=True)
    size = SIZES["tiny" if tiny else "full"]
    rng = random.Random(f"{workload}:{seed}")
    truth: dict = {"workload": workload, "seed": seed}
    if workload == "log_scan":
        parts = []
        for preset in PRESETS:
            for p in range(size["scan_parts"]):
                lines, rows = scan_lines(preset, size["scan_lines"], rng)
                name = f"{preset}-{p}"
                os.makedirs(os.path.join(out, name))
                path = os.path.join(out, name, "part.log")
                _write_lines(path, lines)
                parts.append({"name": name, "preset": preset, "lines": len(lines),
                              "bytes": os.path.getsize(path), **truth_summary(rows, KINDS[preset])})
        truth["partitions"] = parts
    elif workload == "log_ingest":
        batches = []
        for b in range(size["batches"]):
            bdir = os.path.join(out, f"batch-{b}")
            gz_rows, gz_lines, gz_bytes = [], 0, 0
            os.makedirs(os.path.join(bdir, "gz"))
            for f in range(size["gz_files"]):
                lines, rows = scan_lines("apache", size["gz_lines"], rng)
                path = os.path.join(bdir, "gz", f"access-{f}.log.gz")
                _write_lines(path, lines, gz=True)
                gz_rows += rows
                gz_lines += len(lines)
                gz_bytes += os.path.getsize(path)
            windows: dict[str, list] = {}
            for r in gz_rows:
                if r[-1] is not None:
                    continue
                hour = r[2] // 3_600_000_000 * 3_600_000_000
                key = f"{hour}|{r[3]}"
                w = windows.setdefault(key, [0, 0])
                w[0] += 1
                w[1] += r[6] or 0
            cp_lines, cp_rows, cp_redacted = [], [], []
            for _ in range(size["cp1251_lines"]):
                line, row, red = _mysql(rng, words=_CYR_WORDS, extra=_CYR_WORDS, pii=True)
                cp_lines.append(line)
                cp_rows.append(row)
                cp_redacted.append(row[:4] + (red, None))
            os.makedirs(os.path.join(bdir, "cp1251"))
            cp_path = os.path.join(bdir, "cp1251", "mysql.log")
            _write_lines(cp_path, cp_lines, encoding="cp1251")
            st_lines, st_rows, tpls = [], [], set()
            for _ in range(size["strict_lines"]):
                line, row, tpl = _syslog(rng)
                st_lines.append(line)
                st_rows.append(row)
                tpls.add(tpl)
            os.makedirs(os.path.join(bdir, "strict"))
            _write_lines(os.path.join(bdir, "strict", "syslog.log"), st_lines)
            batches.append({
                "name": f"batch-{b}",
                "gz": {"files": size["gz_files"], "lines": gz_lines, "bytes": gz_bytes,
                       **truth_summary(gz_rows, KINDS["apache"])},
                "windows": dict(sorted(windows.items())),
                "cp1251": {"lines": len(cp_lines), "bytes": os.path.getsize(cp_path),
                           **truth_summary(cp_rows, KINDS["mysql"])},
                "sink": truth_summary(cp_redacted, KINDS["mysql"]),
                "strict": {"lines": len(st_lines), **truth_summary(st_rows, KINDS["syslog"])},
                "n_templates": len(tpls),
            })
        truth["batches"] = batches
    else:
        data, ctruth = corpus_inputs(seed, size)
        _write_docs(os.path.join(out, "standing.parquet"), data["standing"])
        for i, docs in enumerate(data["increments"]):
            _write_docs(os.path.join(out, f"increment-{i}.parquet"), docs)
        _write_vectors(os.path.join(out, "embeddings.parquet"),
                       np.arange(size["emb_corpus"]), data["corpus"])
        _write_vectors(os.path.join(out, "queries.parquet"),
                       1_000_000 + np.arange(size["emb_queries"]), data["queries"])
        truth.update(ctruth)
        truth["increment_docs"] = [len(d) for d in data["increments"]]
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out, tiny=args.tiny)


if __name__ == "__main__":
    main()
