"""Seeded input generator for the perfbench workloads.

Every table is a pure function of ``(workload, seed)``: the same seed writes
the same bytes.  The program under test receives only these files.

    python3 perfbench/gen.py --workload clinical_etl --seed 1 --out DIR

prints the properties of what it wrote (sizes, shares, skew) as JSON.

Two corpora are generated:

- ``clinical_etl``: pathology-style HL7 report batches (``reports/`` — one
  parquet file per batch, columns ``msgid, message``).  Reports carry
  section headers, HL7 segment prefixes and break escapes, a lognormal
  length distribution whose tail crosses the 2000-character truncation
  budget, and NULL, empty and latin-1 rows.
- ``analytics_mix``: the ten tables of the
  engine's testdata schema (``region`` .. ``embeddings``, one parquet file
  each) at a small scale, with Zipf-skewed ``events.user_id`` and a
  documents corpus with planted near-duplicate and exact-duplicate copies.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes and properties, per workload ---------------------------------------

#: report batches (files) for clinical_etl; ops cycle through them
ETL_BATCHES = 6
ETL_REPORTS_PER_BATCH = 1000
ETL_NULL_SHARE = 0.02
ETL_EMPTY_SHARE = 0.02
ETL_LATIN1_SHARE = 0.06
#: lognormal section-body length (words); the tail crosses the 2000-char budget
ETL_WORDS_MU, ETL_WORDS_SIGMA = 3.6, 0.8

TABLE_SCALE = {
    # rows per table; lineitem fans out 0..7 lines per order
    "analytics_mix": dict(
        customer=1500, supplier=100, part=2000, orders=6000, events=20000,
        users=1500, documents=500, embeddings=500,
    ),
}
#: Zipf exponent of events.user_id (rank-frequency), truncated to `users`
EVENTS_ZIPF_S = 1.1
#: share of documents that are near-copies / exact copies of a base document
DOC_NEARDUP_SHARE = 0.15
DOC_EXACT_DUP_SHARE = 0.05

BASE_WORDS = [
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "batch", "part", "vector", "query",
    "agg", "table", "stream", "filter", "big", "merge", "join", "window",
    "key", "customer", "the", "a", "row", "shuffle", "data", "and", "of",
]
LANGS = ["en"] * 8 + ["de"] * 3 + ["zh"] * 3 + ["fr"] * 3 + ["es"] * 3

CLINICAL_WORDS = [
    "prostate", "adenocarcinoma", "gleason", "score", "tissue", "core",
    "biopsy", "margin", "negative", "positive", "invasive", "ductal",
    "carcinoma", "grade", "lymph", "node", "benign", "specimen", "received",
    "formalin", "labeled", "fragments", "measuring", "cm", "tan", "firm",
    "involving", "percent", "of", "the", "with", "and", "no", "identified",
    "perineural", "invasion", "present", "absent", "right", "left", "base",
    "apex", "mid", "gland", "pattern", "cribriform", "stroma", "atypia",
]
LATIN1_WORDS = ["tumeur", "épithélium", "größe", "µm", "±2", "señal", "°C",
                "naïve", "coeur", "façade"]
SECTION_HEADERS = [
    ("gross", ["GROSS DESCRIPTION", "Gross"]),
    ("micro", ["MICROSCOPIC DESCRIPTION", "Microscopic"]),
    ("diagnosis", ["DIAGNOSIS", "Diagnosis"]),
    ("diagnosis_comment", ["COMMENT", "Diagnosis Comment"]),
    ("addendum", ["ADDENDUM", "Addendum"]),
]
#: HL7 line separators the cleaner normalizes
HL7_BREAKS = ["\\.br\\", "~", "\r\n", "\n"]


def _write(table: pa.Table, path: str) -> int:
    """One deterministic parquet file (one row group, fixed options)."""
    pq.write_table(
        table, path, compression="snappy", row_group_size=1 << 30,
        use_dictionary=True, write_statistics=True,
    )
    return os.path.getsize(path)


def _rngs(seed: int, n: int) -> list[np.random.Generator]:
    return [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(n)]


# -- clinical_etl --------------------------------------------------------------


def _report(rng: np.random.Generator, latin1: bool) -> str:
    lines = []
    k = 0
    for _name, headers in SECTION_HEADERS:
        if rng.random() > 0.7:
            continue
        n = max(3, int(rng.lognormal(ETL_WORDS_MU, ETL_WORDS_SIGMA)))
        words = [CLINICAL_WORDS[i] for i in rng.integers(0, len(CLINICAL_WORDS), n)]
        if latin1:
            for j in rng.integers(0, n, max(1, n // 15)):
                words[j] = LATIN1_WORDS[int(rng.integers(0, len(LATIN1_WORDS)))]
        body = " ".join(words)
        if rng.random() < 0.2:
            body = body.replace(" ", "  \t", 2)  # whitespace runs to collapse
        k += 1
        prefix = f"OBX|{k}|TX|" if rng.random() < 0.6 else ""
        header = headers[int(rng.integers(0, len(headers)))]
        lines.append(f"{prefix}{header}: {body}")
    if not lines:  # no recognised section: the 'entire report' branch
        n = int(rng.integers(5, 40))
        lines.append(" ".join(CLINICAL_WORDS[i] for i in rng.integers(0, 48, n)))
    sep = HL7_BREAKS[int(rng.integers(0, len(HL7_BREAKS)))]
    text = sep.join(lines)
    if rng.random() < 0.05:
        text = "\x07" + text + "\x0b"  # control characters
    return text


def gen_clinical(seed: int, out: str) -> dict:
    os.makedirs(os.path.join(out, "reports"), exist_ok=True)
    rngs = _rngs(seed, ETL_BATCHES)
    files, n_bytes, n_rows = [], 0, 0
    counts = dict(null=0, empty=0, latin1=0, over_budget=0)
    lengths = []
    for b, rng in enumerate(rngs):
        ids = np.arange(b * ETL_REPORTS_PER_BATCH, (b + 1) * ETL_REPORTS_PER_BATCH,
                        dtype=np.int64)
        msgs: list[str | None] = []
        for _ in ids:
            u = rng.random()
            if u < ETL_NULL_SHARE:
                msgs.append(None)
                counts["null"] += 1
            elif u < ETL_NULL_SHARE + ETL_EMPTY_SHARE:
                msgs.append("")
                counts["empty"] += 1
            else:
                latin1 = rng.random() < ETL_LATIN1_SHARE
                counts["latin1"] += latin1
                text = _report(rng, latin1)
                counts["over_budget"] += len(text) > 2000
                lengths.append(len(text))
                msgs.append(text)
        path = os.path.join(out, "reports", f"batch_{b:03d}.parquet")
        n_bytes += _write(
            pa.table({"msgid": pa.array(ids), "message": pa.array(msgs, pa.string())}),
            path,
        )
        files.append(path)
        n_rows += len(ids)
    lengths_arr = np.array(lengths)
    return {
        "report_files": files,
        "input_bytes": n_bytes,
        "reports": n_rows,
        "reports_per_batch": ETL_REPORTS_PER_BATCH,
        "null_share": counts["null"] / n_rows,
        "empty_share": counts["empty"] / n_rows,
        "latin1_share": counts["latin1"] / n_rows,
        "over_2000_chars_share": counts["over_budget"] / n_rows,
        "chars_p50": float(np.median(lengths_arr)),
        "chars_p99": float(np.percentile(lengths_arr, 99)),
    }


# -- testdata-schema tables ------------------------------------------------------


def _ts(days: np.ndarray, base: str) -> pa.Array:
    epoch = np.datetime64(base, "us")
    return pa.array(epoch + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _sentence_pool(rng: np.random.Generator, n: int) -> list[str]:
    pool = []
    for _ in range(n):
        k = int(rng.integers(8, 15))
        toks = []
        for w in rng.integers(0, len(BASE_WORDS), k):
            tok = BASE_WORDS[w]
            if rng.random() < 1 / 3:
                tok += str(int(rng.integers(0, 997)))
            toks.append(tok)
        pool.append(" ".join(toks))
    return pool


def _documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict]:
    """Base documents from a diverse sentence pool, then planted copies:
    a near-copy swaps one token of an earlier base document (long bases
    only, so its char-5 Jaccard stays high); an exact copy repeats it."""
    pool = _sentence_pool(rng, 9 * n)
    next_sentence = 0  # base documents never share a pool sentence
    texts: list[str] = []
    origin = np.full(n, -1, dtype=np.int64)  # base doc a copy was made from
    n_near = 0
    exact: list[int] = []
    for i in range(n):
        u = rng.random()
        bases = [j for j in range(max(0, i - 200), i) if origin[j] < 0 and len(texts[j]) >= 150]
        if bases and u < DOC_NEARDUP_SHARE + DOC_EXACT_DUP_SHARE:
            src = bases[int(rng.integers(0, len(bases)))]
            origin[i] = src
            toks = texts[src].split(" ")
            if u < DOC_NEARDUP_SHARE:
                toks[int(rng.integers(0, len(toks)))] = BASE_WORDS[int(rng.integers(0, 26))] + "x"
                n_near += 1
            else:
                exact.append(i)
            texts.append(" ".join(toks))
            continue
        k = int(rng.integers(1, 10))
        texts.append(" ".join(pool[next_sentence:next_sentence + k]))
        next_sentence += k
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), n)]
    sources = [f"src{j}" for j in rng.integers(0, 20, n)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    props = {
        "docs": n,
        "near_dup_share": n_near / n,
        "exact_dup_share": len(exact) / n,
    }
    return table, props


def gen_tables(workload: str, seed: int, out: str) -> dict:
    sc = TABLE_SCALE[workload]
    os.makedirs(out, exist_ok=True)
    r = _rngs(seed, 8)
    sizes: dict[str, int] = {}

    def put(name: str, table: pa.Table) -> None:
        sizes[name] = _write(table, os.path.join(out, f"{name}.parquet"))

    put("region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))
    n = sc["customer"]
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r[0].integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _money(r[0], n, -999.99, 9999.99),
        "c_mktsegment": [["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                          "MACHINERY"][j] for j in r[0].integers(0, 5, n)],
    }))
    n = sc["supplier"]
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r[1].integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _money(r[1], n, -999.99, 9999.99),
    }))
    n = sc["part"]
    adj = ["blue", "cold", "hot", "large", "new", "small", "old", "red"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(r[2].integers(0, 8, n), r[2].integers(0, 8, n))],
        "p_brand": [f"Brand#{j}" for j in r[2].integers(1, 26, n)],
        "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][j]
                   for j in r[2].integers(0, 6, n)],
        "p_size": pa.array(r[2].integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + np.arange(n) % 1000 / 10.0, 2),
    }))
    n = sc["orders"]
    odays = r[3].integers(0, 2404, n)
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r[3].integers(0, sc["customer"], n).astype(np.int64)),
        "o_orderstatus": [["O", "F", "P"][j] for j in r[3].integers(0, 3, n)],
        "o_totalprice": _money(r[3], n, 1000.0, 500000.0),
        "o_orderdate": _ts(odays, "1995-01-01"),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][j] for j in r[3].integers(0, 5, n)],
    }))
    lines = r[4].integers(0, 8, n)  # 0 lines: orders without lineitems
    okey = np.repeat(np.arange(n, dtype=np.int64), lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    m = len(okey)
    qty = r[4].integers(1, 51, m).astype(np.float64)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r[4].integers(0, sc["part"], m).astype(np.int64)),
        "l_suppkey": pa.array(r[4].integers(0, sc["supplier"], m).astype(np.int64)),
        "l_linenumber": pa.array(lno),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(r[4], m, 901.0, 2100.0), 2),
        "l_discount": r[4].integers(0, 11, m) / 100.0,
        "l_tax": r[4].integers(0, 9, m) / 100.0,
        "l_returnflag": [["A", "N", "R"][j] for j in r[4].integers(0, 3, m)],
        "l_linestatus": [["O", "F"][j] for j in r[4].integers(0, 2, m)],
        "l_shipdate": _ts(np.repeat(odays, lines) + r[4].integers(1, 122, m), "1995-01-01"),
    }))
    n, users = sc["events"], sc["users"]
    # Zipf rank-frequency over `users` ids, then a seeded id permutation so
    # the hot users are not simply the smallest ids
    w = 1.0 / np.arange(1, users + 1) ** EVENTS_ZIPF_S
    uid = r[5].permutation(users)[r[5].choice(users, n, p=w / w.sum())]
    ts_us = np.sort(r[5].integers(0, 30 * 86400 * 10**6, n))
    put("events", pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": [["view", "click", "purchase", "error", "signup"][j]
                       for j in r[5].integers(0, 5, n)],
        "value": _money(r[5], n, 0.0, 560.0),
        "props": [f'{{"k": {j}}}' for j in r[5].integers(0, 100, n)],
    }))
    docs, doc_props = _documents(r[6], sc["documents"])
    put("documents", docs)
    n = sc["embeddings"]
    emb = r[7].standard_normal((n, 64)).astype(np.float32) * np.float32(0.12)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r[7].integers(0, 10, n).astype(np.int32)),
    }))
    top = np.bincount(uid, minlength=users)
    return {
        "table_dir": out,
        "rows": {"lineitem": m, **{k: v for k, v in sc.items() if k != "users"}},
        "bytes": sizes,
        "input_bytes": sum(sizes.values()),
        "events_users": users,
        "events_zipf_s": EVENTS_ZIPF_S,
        "events_top_user_share": float(top.max() / len(uid)),
        **doc_props,
    }


def generate(workload: str, seed: int, out: str) -> dict:
    if workload == "clinical_etl":
        return gen_clinical(seed, out)
    if workload in TABLE_SCALE:
        return gen_tables(workload, seed, out)
    raise ValueError(f"unknown workload {workload!r}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    props = generate(args.workload, args.seed, args.out)
    print(json.dumps(props, indent=1, default=str))


if __name__ == "__main__":
    main()
