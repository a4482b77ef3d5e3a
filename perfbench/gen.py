"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every table is a pure function of (seed, size): the same seed writes the
same rows. Properties the generator varies, recorded in ``PROPERTIES``
and in each run's provenance:

- pages (url, warc_ts, html, text, lang): Zipf(1.2) hosts over n/50
  hosts; Zipf(1.3) tokens over a 50k vocabulary; log-normal text length
  (median ~55 tokens, clipped to [1, 2000]); lang skewed (en 55%, five
  more at 5-12%, 14 at 0.6%); a 2% share of rows re-emits an earlier
  row's url and content (exact duplicates).
- facts (id, host, lang, ts, value, bytes, status): Zipf(1.1) hosts
  over 2000 hosts, the pages lang skew, one-second ts with ties broken
  by id, log-normal value (2 decimals) and bytes, status skewed over
  six codes.
- embeddings (vec_id, embedding): 32-dim float vectors drawn around 64
  Gaussian cluster centres, so an IVF index has structure to find.

Tables are written as parquet under ``<cache>/<table>_<seed>_<size>``
and reused when present, so generation stays outside every timed region.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
LANGS = ["en", "ru", "de", "ja", "fr", "zh"] + [
    "es", "pt", "it", "nl", "pl", "tr", "ar", "ko", "hi", "sv", "fi", "cs", "el", "he",
]
LANG_P = np.array([0.55, 0.12, 0.08, 0.06, 0.05, 0.05] + [0.09 / 14] * 14)
LANG_P = LANG_P / LANG_P.sum()
STATUS = np.array([200, 301, 302, 404, 500, 503])
STATUS_P = np.array([0.80, 0.07, 0.04, 0.06, 0.02, 0.01])
FACT_HOSTS = 2000
EMB_DIM = 32
EMB_CLUSTERS = 64

PROPERTIES = {
    "pages": {
        "hosts": "Zipf(1.2) over n/50 hosts",
        "tokens": f"Zipf(1.3) over a {VOCAB_SIZE} vocabulary",
        "text_tokens": "lognormal(4.0, 1.0) clipped to [1, 2000]",
        "lang": "20 langs, en 0.55, ru 0.12, de 0.08, ja 0.06, fr 0.05, zh 0.05",
        "duplicate_share": 0.02,
    },
    "facts": {
        "hosts": f"Zipf(1.1) over {FACT_HOSTS} hosts",
        "lang": "pages lang skew",
        "status": dict(zip(STATUS.tolist(), STATUS_P.tolist())),
        "value": "lognormal(3, 1) rounded to 2 decimals",
    },
    "embeddings": {"dim": EMB_DIM, "clusters": EMB_CLUSTERS},
}

_HTML_HEAD = "<html><head><title>synthetic</title></head><body><p>"
_HTML_TAIL = "</p><footer>boilerplate</footer></body></html>"
_VOCAB = pa.array([f"w{i}" for i in range(VOCAB_SIZE)])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str, files: int) -> None:
    """Write `files` parquet files atomically (tmp dir, then rename)."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, path)


def pages_table(n: int, seed: int, first_id: int = 0) -> pa.Table:
    rng = _rng(seed, 1 + first_id)
    rid = np.arange(first_id, first_id + n)
    # duplicates re-emit the previous row's content; follow chains so
    # every duplicate points at an original row
    src = np.where((rng.random(n) < 0.02) & (np.arange(n) > 0), np.arange(n) - 1, np.arange(n))
    while True:
        nxt = src[src]
        if np.array_equal(nxt, src):
            break
        src = nxt
    n_hosts = max((first_id + n) // 50, 4)
    host = rng.zipf(1.2, n) % n_hosts
    n_tok = np.clip(rng.lognormal(4.0, 1.0, n), 1, 2000).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(n_tok)])
    toks = np.minimum(rng.zipf(1.3, int(offsets[-1])), VOCAB_SIZE) - 1
    words = _VOCAB.take(pa.array(toks))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), words), " ")
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    ts = np.datetime64("2025-01-01", "s") + rng.integers(0, 364 * 86400, n).astype("timedelta64[s]")
    url = np.char.add(np.char.add(np.char.add("https://host", host[src].astype(str)),
                                  ".example.com/p"), (first_id + src).astype(str))
    # apply the duplicate mapping to every content column
    take = pa.array(src)
    text = text.take(take)
    html = pc.binary_join_element_wise(_HTML_HEAD, text, _HTML_TAIL, "").cast(pa.binary())
    return pa.table({
        "row_id": pa.array(rid),
        "url": pa.array(url),
        "warc_ts": pa.array(ts[src]).cast(pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": text,
        "lang": pa.array(lang[src]),
    })


def facts_table(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, 2)
    host = rng.zipf(1.1, n) % FACT_HOSTS
    return pa.table({
        "id": pa.array(np.arange(n)),
        "host": pa.array(np.char.add("h", host.astype(str))),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "ts": pa.array(np.sort(rng.integers(0, n // 2, n))),
        "value": pa.array(np.round(rng.lognormal(3.0, 1.0, n), 2)),
        "bytes": pa.array(rng.lognormal(9.0, 1.5, n).astype(np.int64)),
        "status": pa.array(STATUS[rng.choice(len(STATUS), n, p=STATUS_P)].astype(np.int32)),
    })


def embeddings_table(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, 3)
    centres = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    vecs = centres[rng.integers(0, EMB_CLUSTERS, n)] + 0.35 * rng.standard_normal((n, EMB_DIM))
    vecs = vecs.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n)), "embedding": emb})


def query_vectors(seed: int, n_queries: int) -> np.ndarray:
    """Query vectors near the embedding clusters (same centres as the table)."""
    rng = _rng(seed, 3)
    centres = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    q = _rng(seed, 4)
    return centres[q.integers(0, EMB_CLUSTERS, n_queries)] + 0.35 * q.standard_normal(
        (n_queries, EMB_DIM))


def ensure(cache: str, name: str, seed: int, size: int, files: int = 4, first_id: int = 0) -> str:
    """Path of the cached parquet directory for (name, seed, size)."""
    path = os.path.join(cache, f"{name}_{seed}_{size}" + (f"_{first_id}" if first_id else ""))
    if not os.path.isdir(path):
        if name == "pages":
            table = pages_table(size, seed, first_id)
        elif name == "facts":
            table = facts_table(size, seed)
        else:
            table = embeddings_table(size, seed)
        _write(table, path, files)
    return path
