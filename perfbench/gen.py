"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed``: the same seed writes the
same bytes. Three kinds of input are made:

- ``gen_tables``: the relational + events + corpus tables the query
  registry reads (same schemas and value ranges as its test data).
- ``gen_corpus``: the 10x documents/embeddings replication recipe of the
  sf1 lane of ``bench.py``, with the seed salting the md5 word shuffle.
- ``gen_crawl``: Common Crawl CDX ND-JSON + WARC gzip shards +
  ``collinfo.json``, Wayback CDX pages + archived pages, and a seeded D1
  SQLite file. WARC records are range-served out of whole shard files so
  the fixture manifest stays a handful of entries.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import os
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _shares(rng: np.random.Generator, n: int, shares) -> np.ndarray:
    """A seeded permutation of ``n`` category indices in fixed proportions:
    the seed moves rows between categories, never the category sizes."""
    counts = [round(n * s) for s in shares]
    counts[0] += n - sum(counts)
    return rng.permutation(np.repeat(np.arange(len(shares)), counts))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Uniform bag-of-vocabulary documents of 10..100 words; 5% are an
    earlier document plus a trailing "dup" token and 0.5% exact copies.
    Lengths and the duplicate shares are fixed, only their placement is
    seeded, so every seed gives the same amount of work."""
    lens = rng.permutation(np.linspace(10, 100, n).round().astype(np.int64))
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    kind = np.r_[0, _shares(rng, n - 1, (0.945, 0.05, 0.005))] if n > 1 else np.zeros(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    out: list[str] = []
    pos = 0
    for i in range(n):
        if kind[i] == 1:
            out.append(out[src[i]] + " dup")
        elif kind[i] == 2:
            out.append(out[src[i]])
        else:
            out.append(" ".join(VOCAB[w] for w in words[pos : pos + lens[i]]))
        pos += lens[i]
    return out


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[_shares(rng, n, LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = _shares(rng, n, [0.1] * 10).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels,
        }
    )


def gen_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> str:
    """Write the ten registry tables at scale ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")
    day = 86400.0
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    # line numbers count 1, 2, ... within each order, so (orderkey,
    # linenumber) is a key and ordered window frames have no ties
    l_ok = rng.integers(0, n_ord, n_li).astype(np.int64)
    by_key = np.argsort(l_ok, kind="stable")
    sorted_ok = l_ok[by_key]
    first = np.r_[True, sorted_ok[1:] != sorted_ok[:-1]]
    group_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    l_line = np.empty(n_li, dtype=np.int32)
    l_line[by_key] = np.arange(n_li) - group_start + 1
    _write(pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_li) * day),
    }), f"{out_dir}/lineitem.parquet")
    secs = np.sort(rng.uniform(0, 30 * day, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    _write(documents_table(rng, n_docs), f"{out_dir}/documents.parquet")
    _write(embeddings_table(rng, n_vecs), f"{out_dir}/embeddings.parquet")
    return out_dir


CORPUS_BASE_DIR = "_base"  # the un-replicated base, inside the corpus directory
CORPUS_REPLICAS = 10


def gen_corpus(out_dir: str, seed: int, base_docs: int, base_vecs: int) -> str:
    """bench.py's sf1 recipe over a seeded base: ``CORPUS_REPLICAS`` copies
    of the documents with a per-replica md5 word shuffle salted by
    ``seed``, and key-shifted copies of the embeddings. bench.py replicates
    its 5000-document sf0.1 base; callers here pass a smaller base."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    base = os.path.join(out_dir, CORPUS_BASE_DIR)
    os.makedirs(base, exist_ok=True)
    _write(documents_table(rng, base_docs), f"{base}/documents.parquet")
    _write(embeddings_table(rng, base_vecs), f"{base}/embeddings.parquet")
    con = duckdb.connect()
    con.execute("SET threads = 1")  # one writer thread: stable row order
    con.execute(
        f"""
        COPY (
            SELECT doc_id, text, lang, source,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM (
                SELECT doc_id + {base_docs} * r AS doc_id,
                       array_to_string(
                           list_transform(
                               list_sort(list_transform(
                                   string_split(coalesce(text, ''), ' '),
                                   w -> md5('{int(seed)}:' || r || ':' || doc_id
                                            || ':' || w) || ':' || w)),
                               kw -> substr(kw, 34) || '~' || (doc_id % 100)),
                           ' ') AS text,
                       lang, source
                FROM '{base}/documents.parquet', range({CORPUS_REPLICAS}) t(r)
                ORDER BY r, doc_id
            )
        ) TO '{out_dir}/documents.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT vec_id + {base_vecs} * r AS vec_id, embedding, label
            FROM '{base}/embeddings.parquet', range({CORPUS_REPLICAS}) t(r)
            ORDER BY r, vec_id
        ) TO '{out_dir}/embeddings.parquet' (FORMAT parquet)
        """
    )
    con.close()
    return out_dir


# --- crawl fixtures -------------------------------------------------------

CRAWLS = [  # newest first, like the real collinfo.json
    ("CC-MAIN-2024-33", "2024-08-02T00:00:00", "2024-08-16T00:00:00"),
    ("CC-MAIN-2024-30", "2024-07-12T00:00:00", "2024-07-26T00:00:00"),
    ("CC-MAIN-2024-26", "2024-06-12T00:00:00", "2024-06-26T00:00:00"),
    ("CC-MAIN-2024-22", "2024-05-17T00:00:00", "2024-05-31T00:00:00"),
    ("CC-MAIN-2024-18", "2024-04-12T00:00:00", "2024-04-26T00:00:00"),
    ("CC-MAIN-2024-10", "2024-02-20T00:00:00", "2024-03-05T00:00:00"),
]
# the scan's timestamp range: overlaps exactly the four middle crawls, and
# cuts the two boundary crawls partway, so the kept residual filter drops
# rows. The upper bound carries seconds: the reader pads a shorter CDX "to"
# with 9s (e.g. 20240719 -> 20240719999999), which does not parse and would
# leave the crawl range open-ended.
SCAN_FROM = dt.datetime(2024, 4, 19)
SCAN_TO = dt.datetime(2024, 7, 19, 12, 34, 56)
CC_PREFIX = "https://www.site.example/"
WB_PREFIX = "archive.example/"
CC_PER_CRAWL = 120
WB_PAGES = 3
WB_PAGE_SIZE = 100
SHARDS_PER_CRAWL = 2


def _html(title: str, text: str) -> bytes:
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{text}</p></body></html>"
    ).encode()


def _digest(text: str, dirty: bool) -> str:
    return hashlib.sha1(f"{dirty}:{text}".encode()).hexdigest()[:32].upper()


def _warc_member(url: str, ts: str, body: bytes) -> bytes:
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
        + body
    )
    head = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\nWARC-Date: {ts}\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    # mtime=0: the gzip header carries no wall clock, so bytes are seeded only
    return gzip.compress(head + http, mtime=0)


def gen_crawl(out_dir: str, seed: int) -> dict:
    """Write the crawl fixtures and their manifests; returns the planted
    ground truth (row counts) that the correctness gate reconciles against."""
    rng = np.random.default_rng([seed, 3])
    cc_dir = os.path.join(out_dir, "cc")
    wb_dir = os.path.join(out_dir, "wb")
    os.makedirs(cc_dir, exist_ok=True)
    os.makedirs(wb_dir, exist_ok=True)
    docs = _texts(rng, 400)
    n_docs = len(docs)

    with open(os.path.join(cc_dir, "collinfo.json"), "w") as f:
        json.dump([
            {"id": cid, "name": cid.replace("CC-MAIN-", "Crawl "), "from": lo, "to": hi}
            for cid, lo, hi in CRAWLS
        ], f)

    truth = {"cc_rows": 0, "cc_kept": 0, "wb_rows": 0, "ok_bodies": 0, "docs": set()}
    cc_files: dict[str, str] = {}
    prev_doc = 0
    for cid, lo, hi in CRAWLS:
        if cid not in _scan_crawls():
            continue  # listed in collinfo.json only
        t0 = dt.datetime.fromisoformat(lo)
        span = (dt.datetime.fromisoformat(hi) - t0).total_seconds()
        # a warcinfo member first in every shard: offset 0 means "no record"
        shards = [gzip.compress(b"WARC/1.0\r\nWARC-Type: warcinfo\r\n\r\n", mtime=0)
                  for _ in range(SHARDS_PER_CRAWL)]
        lines = []
        # one capture per equal slice of the crawl, in seeded order, so the
        # scan range keeps the same number of rows on every seed
        offsets = (rng.permutation(CC_PER_CRAWL) + rng.random(CC_PER_CRAWL)) / CC_PER_CRAWL
        kinds = _shares(rng, CC_PER_CRAWL, (0.83, 0.08, 0.05, 0.04))
        for i in range(CC_PER_CRAWL):
            ts_dt = t0 + dt.timedelta(seconds=float(offsets[i] * span))
            url = f"{CC_PREFIX}{cid[-7:]}/p{i:04d}"
            kind = kinds[i]
            di = int(rng.integers(0, n_docs))
            if kind == 1:  # duplicate digest: re-serve the previous doc
                di = prev_doc
            dirty = kind == 2
            truncated = kind == 3
            body = _html(f"page {i}", docs[di])
            if dirty:  # invalid UTF-8 inside the text
                body = body.replace(b"<p>", b"<p>\xff\xfe caf\xe9 ", 1)
            member = _warc_member(url, ts_dt.isoformat() + "Z", body)
            k = i % SHARDS_PER_CRAWL
            lines.append(json.dumps({
                "url": url, "timestamp": ts_dt.strftime("%Y%m%d%H%M%S"),
                "mime": "text/html", "status": "200",
                "digest": _digest(docs[di], dirty),
                "filename": f"crawl-data/{cid}/warc/shard-{k:05d}.warc.gz",
                "offset": str(len(shards[k])),
                # a truncated member is cut inside the gzip stream: no HTTP
                # block survives, so the record lands with an empty body
                "length": str(20 if truncated else len(member)),
            }))
            shards[k] += member
            prev_doc = di
            truth["cc_rows"] += 1
            if SCAN_FROM <= ts_dt <= SCAN_TO:
                truth["cc_kept"] += 1
                if not truncated:
                    truth["ok_bodies"] += 1
                    truth["docs"].add((docs[di], dirty))
        fname = f"cdx-{cid}.ndjson"
        with open(os.path.join(cc_dir, fname), "w") as f:
            f.write("\n".join(lines) + "\n")
        for url in cc_cdx_urls(cid):
            cc_files[url] = fname
        for k, blob in enumerate(shards):
            fname = f"shard-{cid}-{k}.warc.gz"
            with open(os.path.join(cc_dir, fname), "wb") as f:
                f.write(blob)
            cc_files[f"https://data.commoncrawl.org/crawl-data/{cid}/warc/"
                     f"shard-{k:05d}.warc.gz"] = fname

    wb_lines = []
    wb_pages: dict[str, str] = {}
    for i in range(WB_PAGES * WB_PAGE_SIZE):
        di = int(rng.integers(0, n_docs))
        ts = (dt.datetime(2019, 1, 1) + dt.timedelta(
            seconds=float(rng.uniform(0, 5 * 365 * 86400)))).strftime("%Y%m%d%H%M%S")
        path = f"p/{i:05d}"
        original = f"http://{WB_PREFIX}{path}"
        body = _html(f"archived {i}", docs[di])
        digest = _digest(docs[di], False)
        wb_lines.append(
            f"example,archive)/{path} {ts} {original} text/html 200 {digest} {len(body)}"
        )
        fname = f"page-{i:05d}.html"
        with open(os.path.join(wb_dir, fname), "wb") as f:
            f.write(body)
        wb_pages[f"https://web.archive.org/web/{ts}id_/{original}"] = fname
        truth["wb_rows"] += 1
        truth["ok_bodies"] += 1
        truth["docs"].add((docs[di], False))
    for p in range(WB_PAGES):
        with open(os.path.join(wb_dir, f"cdx-page-{p}.csv"), "w") as f:
            f.write("\n".join(wb_lines[p * WB_PAGE_SIZE:(p + 1) * WB_PAGE_SIZE]) + "\n")

    cc_files["https://index.commoncrawl.org/collinfo.json"] = "collinfo.json"
    with open(os.path.join(cc_dir, "manifest.json"), "w") as f:
        json.dump(cc_files, f, sort_keys=True)
    for p in range(WB_PAGES):
        wb_pages[wb_cdx_url(p)] = f"cdx-page-{p}.csv"
    with open(os.path.join(wb_dir, "manifest.json"), "w") as f:
        json.dump(wb_pages, f, sort_keys=True)
    # distinct extracted texts: clean copies of a text collapse across both
    # sources; a text served with invalid bytes is a text of its own
    truth["docs"] = len(truth["docs"])
    truth["cc_dir"] = cc_dir
    truth["wb_dir"] = wb_dir
    return truth


def _scan_crawls() -> set[str]:
    lo, hi = SCAN_FROM, SCAN_TO
    return {
        cid for cid, a, b in CRAWLS
        if dt.datetime.fromisoformat(b) >= lo and dt.datetime.fromisoformat(a) <= hi
    }


def cc_cdx_urls(cid: str) -> list[str]:
    """The CDX URLs the common_crawl reader builds for the scan's pushed
    filters (url prefix, status, mime, timestamp range). Spark may push the
    status and mime filters in either order, so both orders are served."""
    from duckdb_cloudflare_spark.sources.cdx import build_cc_cdx_url
    from duckdb_cloudflare_spark.util.text import to_cdx_timestamp

    fields = ["url", "timestamp", "mimetype", "statuscode", "digest", "filename",
              "offset", "length"]
    filters = ["=status:200", "=mime:text/html"]
    return [
        build_cc_cdx_url(
            cid, f"{CC_PREFIX}*", fields, cdx_filters=order,
            max_results=CC_PER_CRAWL,
            from_ts=to_cdx_timestamp(SCAN_FROM.strftime("%Y%m%d%H%M%S")),
            to_ts=to_cdx_timestamp(SCAN_TO.strftime("%Y%m%d%H%M%S")),
        )
        for order in (filters, filters[::-1])
    ]


def wb_cdx_url(page: int) -> str:
    """The Wayback CDX URL of offset page ``page`` of the paged scan."""
    from duckdb_cloudflare_spark.sources.cdx import (
        WAYBACK_ORDERED_FIELDS,
        build_wayback_cdx_url,
    )

    return build_wayback_cdx_url(
        WB_PREFIX, match_type="prefix", fields_needed=list(WAYBACK_ORDERED_FIELDS),
        cdx_filters=["statuscode:200"], max_results=WB_PAGE_SIZE,
        collapses=["digest"], offset=page * WB_PAGE_SIZE,
    )


def gen_d1(path: str, seed: int) -> str:
    """Seeded D1 database: a populated ``sites`` table plus the empty
    ``docs`` and ``lang_summary`` tables the crawl workload writes back."""
    rng = np.random.default_rng([seed, 4])
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE sites (site_id INTEGER PRIMARY KEY, host TEXT, category TEXT,
                            rank INTEGER);
        CREATE TABLE docs (doc_id INTEGER, pass_id INTEGER, url TEXT, lang TEXT,
                           n_chars INTEGER, text TEXT);
        CREATE INDEX docs_pass ON docs(pass_id);
        CREATE TABLE lang_summary (pass_id INTEGER, lang TEXT, docs INTEGER,
                                   chars INTEGER);
        """
    )
    cats = ["news", "blog", "shop", "forum", "docs"]
    con.executemany(
        "INSERT INTO sites VALUES (?, ?, ?, ?)",
        [(i, f"h{i}.site.example", cats[int(c)], int(r))
         for i, (c, r) in enumerate(zip(rng.integers(0, 5, 500), rng.integers(1, 10**6, 500)))],
    )
    con.commit()
    con.close()
    return path
