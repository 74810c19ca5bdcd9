"""Seeded input generators.

Every input the benchmark feeds the engine comes from here: the analytics
tables (the same schemas and value ranges as the engine's TPC-H-ish test
tables, documents with injected duplicates among them), and ingest fixture
roots. The same ``numpy`` generator state gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "query row stream the spark line small fast group customer part column order "
    "scan a slow agg key window table merge vector join batch sort value hash "
    "filter big data"
).split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
P_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# multi-file layout, clustered on the key, so scans fan out over several
# tasks as they do on an ingested table: bench.py's sf 0.1 layout (one file
# per this many rows at sf 0.1, at most one file per core), with the rows
# per file scaled to the scale factor so every sf gets the same file counts
_CLUSTER = {
    "lineitem": ("l_shipdate", 40_000),
    "orders": ("o_orderdate", 40_000),
    "events": ("ts", 40_000),
    "documents": ("doc_id", 400),
    "embeddings": ("vec_id", 250),
}
_CLUSTER_SF = 0.1


def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    return out


def documents(rng, n: int) -> pa.Table:
    """``n`` documents; 1 % of them exact copies and 1 % near copies (one
    word appended) of earlier documents."""
    texts = _texts(rng, n)
    n_dup = n // 100
    for i, j in zip(rng.integers(n // 2, n, n_dup), rng.integers(0, n // 2, n_dup)):
        texts[i] = texts[j]
    for i, j in zip(rng.integers(n // 2, n, n_dup), rng.integers(0, n // 2, n_dup)):
        texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def analytics_tables(rng, sf: float) -> dict[str, pa.Table]:
    """The ten engine tables at scale factor ``sf`` (sf 0.1 ≈ 600k lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_emb = int(15_000 * sf), int(20_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(P_ADJ[rng.integers(0, 8, n_part)], " "),
                P_NOUN[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": P_TYPES[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2404),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), 2498),
        }
    )
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86_400_000_000, n_ev).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(rng, int(50_000 * sf))
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_table(path: str, name: str, table: pa.Table, sf: float, cpus: int) -> int:
    """Write ``table`` (generated at scale factor ``sf``) as a directory of
    parquet files at ``path/name.parquet``, clustered and split per
    ``_CLUSTER`` into at most ``cpus`` files. Returns the bytes written."""
    out = os.path.join(path, f"{name}.parquet")
    os.makedirs(out)
    n_files = 1
    if name in _CLUSTER:
        key, per_file = _CLUSTER[name]
        table = table.sort_by(key)
        per_file = max(1, round(per_file * sf / _CLUSTER_SF))
        n_files = max(1, min(cpus, table.num_rows // per_file))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    written = 0
    for i in range(n_files):
        f = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        written += os.path.getsize(f)
    return written


_HTML = "<html><head><title>{t}</title></head><body><p>{b}</p></body></html>\n"


def ingest_inputs(rng, dup: list[bool]) -> list[dict]:
    """One fixture set per ingest op, providers alternating. Op ``i`` is a
    duplicate where ``dup[i]`` is true: it repeats the metadata and artifact
    of a seeded choice among the earlier ops of the same provider, so its
    (source_url, sha256) pair is already in the warehouse and it inserts
    nothing. Every other op is new."""
    seen: dict[str, list[dict]] = {"sec_edgar": [], "nrc_adams_aps": []}
    ops = []
    for i, is_dup in enumerate(dup):
        provider = ("sec_edgar", "nrc_adams_aps")[i % 2]
        prior = seen[provider]
        if is_dup:
            ops.append({**prior[rng.integers(0, len(prior))], "new": False})
            continue
        words = " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), 400))
        if provider == "sec_edgar":
            acc = f"0001112233-{24 + i % 2}-{i:06d}"
            doc = f"exmc-{i:06d}.htm"
            meta_name, meta = "submissions.json", {
                "cik": "1112233",
                "name": "Example Manufacturing Corp.",
                "filings": {
                    "recent": {
                        "accessionNumber": [acc],
                        "primaryDocument": [doc],
                        "filingDate": ["2025-07-15"],
                        "form": ["10-Q"],
                    }
                },
            }
            url = f"https://www.sec.gov/Archives/edgar/data/1112233/{acc.replace('-', '')}/{doc}"
            art_name, body = "artifact.htm", _HTML.format(t=acc, b=words).encode()
        else:
            acc = f"ML{i:07d}"
            url = f"https://adams-api.nrc.gov/download/{acc}.pdf"
            meta_name, meta = "search.json", {
                "count": 1,
                "pageNumber": 1,
                "results": [{"accessionNumber": acc, "score": 0.87, "pdfUrl": url}],
            }
            art_name, body = "document.pdf", b"%PDF-1.4\n" + words.encode() + b"\n%%EOF\n"
        op = {
            "provider": provider,
            "files": {meta_name: json.dumps(meta).encode(), art_name: body},
            "key": (url, hashlib.sha256(body).hexdigest()),
        }
        prior.append(op)
        ops.append({**op, "new": True})
    return ops


def write_fixture_root(root: str, op: dict) -> int:
    """Lay one op's fixtures out as ``root/<provider>/<name>``; returns bytes."""
    d = os.path.join(root, op["provider"])
    os.makedirs(d)
    for name, data in op["files"].items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(data)
    return sum(len(v) for v in op["files"].values())
