"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical files.  The seed moves the doc_id / page / WARC id ranges
and picks which documents duplicate and which pages change, so the
engine never sees the same table twice across seeds while the shape
(row counts, duplicate share, skew share, records per segment) stays
fixed.  Tables are written with pyarrow, not Spark: the engine receives
only the generated files.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geoio_jl_spark import datagen

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
VOCAB_SIZE = 4000


def id_offset(seed: int, n: int) -> int:
    """Start of the seed's dense id range: one of 997 slots of the
    table's size, rounded to a multiple of 1024 (keeps the ``doc_id // 8``
    image clusters whole)."""
    span = -(-max(n, 1024) // 1024) * 1024
    return (seed * 7919 % 997) * span


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, VOCAB_SIZE)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def _write_parquet(table: pa.Table, path: str, files: int) -> int:
    """Write ``table`` as a directory of ``files`` parquet parts (so the
    scan splits across tasks) and return the bytes on disk."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    total = 0
    for k in range(files):
        part = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), part)
        total += os.path.getsize(part)
    return total


def documents(seed: int, n: int, dup_share: float, near_share: float,
              cluster_size: int, tokens: tuple[int, int] = (40, 120)) -> tuple[pa.Table, dict]:
    """The ``documents`` table: (doc_id, text, lang, source, n_chars).

    Text is ``tokens`` (lo, hi) words per document over a 4k-word
    vocabulary with a mild frequency skew (rank = V * u**2, so the most
    common word is ~1.6% of tokens and chance shared 3-shingles stay
    rare).  ``dup_share`` of the rows copy another row's
    text exactly; ``near_share`` of the rows sit in near-duplicate
    clusters of ``cluster_size`` whose members replace ~5% of the
    cluster head's tokens."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    lens = rng.integers(tokens[0], tokens[1] + 1, n)
    ranks = (len(vocab) * rng.random(int(lens.sum())) ** 2).astype(np.int64)
    toks = np.split(vocab[ranks], np.cumsum(lens)[:-1])
    order = rng.permutation(n)
    n_near = int(n * near_share) // cluster_size * cluster_size
    n_dup = int(n * dup_share)
    for c in range(0, n_near, cluster_size):
        head = toks[order[c]]
        for m in order[c + 1:c + cluster_size]:
            t = head.copy()
            flip = rng.random(len(t)) < 0.05
            t[flip] = vocab[rng.integers(0, len(vocab), int(flip.sum()))]
            toks[m] = t
    dup_rows = order[n_near:n_near + n_dup]
    dup_src = order[n_near + n_dup:][:n_dup]
    texts = [" ".join(t) for t in toks]
    for r, s in zip(dup_rows, dup_src):
        texts[r] = texts[s]
    offset = id_offset(seed, n)
    table = pa.table({
        "doc_id": pa.array(np.arange(offset, offset + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, N_SOURCES, n)]),
        "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
    })
    props = {"rows": n, "doc_id_start": offset, "dup_share": n_dup / n,
             "near_dup_share": n_near / n, "near_dup_cluster": cluster_size,
             "text_bytes": int(sum(map(len, texts)))}
    return table, props


def nation() -> pa.Table:
    """The 25-row polygon source the registry queries derive triangles and
    kNN query points from (dialect.TRIANGLES_SQL)."""
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": k,
                     "n_name": [f"NATION_{i}" for i in k],
                     "n_regionkey": k % 5})


def write_tables(out_dir: str, tables: dict[str, pa.Table],
                 files: int) -> int:
    return sum(_write_parquet(t, os.path.join(out_dir, f"{name}.parquet"),
                              files if t.num_rows > 1000 else 1)
               for name, t in tables.items())


# --- WARC crawl epochs ----------------------------------------------------

def _warc_record(uri: str, date: str, html: bytes, rec_no: int) -> bytes:
    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    head = (f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-"
            f"{rec_no:012d}>\r\nWARC-Date: {date}\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n").encode()
    return gzip.compress(head + payload + b"\r\n\r\n", compresslevel=1,
                         mtime=0)


class Crawl:
    """A seeded crawl: an initial page set plus epochs of ``.warc.gz``
    segments in which each record is a new page, a changed page (same url,
    new revision) or an unchanged page, in fixed shares.  Page text is
    40-120 words drawn like ``documents``' text, fixed per (page,
    revision).  ``expected``
    tracks the url → text every resolve must return."""

    def __init__(self, seed: int, records_per_segment: int, segments: int,
                 new_share: float, changed_share: float):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng)
        self.per_seg = records_per_segment
        self.segments = segments
        self.new_share = new_share
        self.changed_share = changed_share
        self.next_id = id_offset(seed, 1 << 20)
        self.revision: dict[int, int] = {}
        self.pages: dict[tuple[int, int], tuple[str, bytes, str]] = {}
        self.expected: dict[str, str] = {}
        self.records = 0

    def _new_ids(self, k: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + k)
        self.next_id += k
        return ids

    def _page(self, page_id: int) -> tuple[str, bytes, str]:
        """(uri, html, text) of the page's current revision, made once."""
        key = (page_id, self.revision[page_id])
        if key not in self.pages:
            self.pages[key] = self._make_page(*key)
        return self.pages[key]

    def _make_page(self, page_id: int, rev: int) -> tuple[str, bytes, str]:
        rng = np.random.default_rng([self.seed, page_id, rev])
        words = self.vocab[(len(self.vocab)
                            * rng.random(rng.integers(40, 121)) ** 2)
                           .astype(np.int64)]
        text = " ".join(words)
        html = datagen._HTML_TEMPLATE.format(
            id=page_id, lat="0.00", lon="0.00",
            body=datagen._escape(text)).encode()
        return f"https://site{page_id % 997}.test/p/{page_id}", html, text

    def epoch(self, out_dir: str, epoch: int, initial: bool = False) -> dict:
        """Write one epoch's segments under ``out_dir``; return its input
        properties.  The initial epoch holds only new pages."""
        n = self.per_seg * self.segments
        known = np.fromiter(self.revision, np.int64, len(self.revision))
        if initial or not len(known):
            n_new, n_chg = n, 0
        else:
            n_new = int(n * self.new_share)
            n_chg = int(n * self.changed_share)
        n_same = n - n_new - n_chg
        picked = self.rng.choice(known, n_chg + n_same, replace=False) \
            if n_chg + n_same else np.empty(0, np.int64)
        new_ids = self._new_ids(n_new)
        for pid in new_ids:
            self.revision[int(pid)] = 0
        for pid in picked[:n_chg]:
            self.revision[int(pid)] += 1
        ids = np.concatenate([new_ids, picked]).astype(np.int64)
        self.rng.shuffle(ids)
        os.makedirs(out_dir, exist_ok=True)
        date = f"2026-01-{epoch % 28 + 1:02d}T00:00:00Z"
        nbytes = 0
        for s in range(self.segments):
            chunk = ids[s * self.per_seg:(s + 1) * self.per_seg]
            recs = []
            for pid in chunk.tolist():
                uri, html, text = self._page(pid)
                self.expected[uri] = text
                recs.append(_warc_record(uri, date, html, self.records))
                self.records += 1
            path = os.path.join(out_dir, f"seg-{epoch:04d}-{s:03d}.warc.gz")
            with open(path, "wb") as f:
                f.write(b"".join(recs))
            nbytes += os.path.getsize(path)
        return {"records": n, "new": n_new, "changed": n_chg,
                "unchanged": n_same, "segments": self.segments,
                "records_per_segment": self.per_seg, "bytes": nbytes}

    def live_text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.expected.values())
