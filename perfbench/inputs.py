"""Seeded benchmark inputs and their oracle digests.

``run.py`` builds both inputs in child processes during set-up:

    python3 perfbench/inputs.py crawl '{"corpus_dir": ..., "corpus_kw": ..., "seed": ..., "cfg_kw": ...}' OUT
    python3 perfbench/inputs.py query '{"tables_dir": ..., "sf": ..., "seed": ..., "names": [...]}' OUT

Each writes its digests as JSON to OUT.

Everything here is a pure function of the benchmark seed: the crawl corpus
comes from ``sim.genpages.generate``, the query tables from
:func:`make_tables` (the testdata star schema the headline queries read,
generated here because the benchmark may read nothing outside its
checkout). Digests are sha256 over canonical, sorted row text, so two
outputs compare equal iff every row matches.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the words of the testdata documents table
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64


def _write(out_dir: str, name: str, cols: dict) -> None:
    # one file, one row group: the layout the headline queries are tuned for
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def make_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the eight tables the headline queries read, sized like the
    testdata scale factor ``sf`` (sf=0.1 → 600k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7001])
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, max(200, int(200_000 * sf)), n_li),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)), n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 5000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-01", "2001-12-31"),
    })
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(DOC_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(10, 101, n_docs)
    ]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = (rng.standard_normal((n_vec, EMBED_DIM)) * 0.12).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })


# ----------------------------------------------------------------- digests


def _cell(v) -> str:
    # the strict canonicalization of tools/selfcheck.py: full precision
    # repr, so int 85 and float 85.0 differ
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, np.floating):
        return _cell(float(v))
    return str(v)


def digest_rows(rows) -> str:
    """sha256 of the sorted canonical text of an iterable of row tuples."""
    lines = sorted("\x1f".join(_cell(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return f"{len(lines)}:{h.hexdigest()[:32]}"


def digest_frame(pdf) -> str:
    """Order-insensitive digest of a pandas frame, columns sorted by name."""
    cols = sorted(pdf.columns)
    rows = pdf[cols].itertuples(index=False, name=None)
    return digest_rows(rows) + ":" + ",".join(cols)


def crawl_digests(order, seen, text) -> dict[str, str]:
    """Digests of the three crawl outputs the parity suite compares:
    crawl order (round, rank, url_canon), the URL-seen set
    (url_canon, first_seen_round, last_status) and the extracted text of
    fetched URLs (url_canon, text_extracted)."""
    return {
        "crawl_order": digest_rows(order),
        "url_seen": digest_rows(seen),
        "text": digest_rows(text),
    }


def oracle_crawl_digests(corpus_dir: str, cfg) -> dict[str, str]:
    from sim.oracle import run_oracle

    res = run_oracle(corpus_dir, cfg)
    return crawl_digests(
        res.crawl_order,
        [(u, r, s) for u, (r, s) in res.url_seen.items()],
        [(u, t) for (_r, u, s, t) in res.fetch_log if s == "fetched"],
    )


def engine_crawl_digests(order_pdf, seen_pdf, log_pdf) -> dict[str, str]:
    fetched = log_pdf[log_pdf["status"] == "fetched"]
    return crawl_digests(
        order_pdf[["round", "rank", "url_canon"]].itertuples(index=False, name=None),
        seen_pdf[["url_canon", "first_seen_round", "last_status"]].itertuples(
            index=False, name=None
        ),
        fetched[["url_canon", "text_extracted"]].itertuples(index=False, name=None),
    )


def crawl_inputs(corpus_dir: str, corpus_kw: dict, seed: int, cfg) -> dict[str, str]:
    """Generate the crawl corpus for ``seed`` (hot host on) and return the
    sequential oracle's digests of its crawl under ``cfg``."""
    from sim.genpages import generate

    generate(corpus_dir, hot_host=True, seed=seed, workers=1, **corpus_kw)
    return oracle_crawl_digests(corpus_dir, cfg)


def query_inputs(tables_dir: str, sf: float, seed: int, names: list[str]) -> dict[str, str]:
    """Write the query tables for ``seed`` and return DuckDB's digest of
    each named headline query over them."""
    make_tables(tables_dir, sf, seed)
    return duckdb_digests(tables_dir, names)


def duckdb_digests(tables_dir: str, names: list[str]) -> dict[str, str]:
    """Digest of each query's DuckDB oracle result over ``tables_dir``."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(tables_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(tables_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        return {n: digest_frame(con.sql(oracles[n]).df()) for n in names}
    finally:
        con.close()


def main(argv: list[str]) -> int:
    kind, args, out = argv
    args = json.loads(args)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if kind == "crawl":
        from sitemap_scan_spark.config import CrawlConfig

        cfg = CrawlConfig(**args.pop("cfg_kw"))
        digests = crawl_inputs(cfg=cfg, **args)
    else:
        digests = query_inputs(**args)
    with open(out, "w") as fh:
        json.dump(digests, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
