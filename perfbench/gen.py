"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed, size) and is written as
multi-file, multi-row-group parquet so that Spark splits each scan across
all cores instead of reading one unsplittable file in one task. Faults,
near-duplicates and Zipf-skewed hosts are planted at fixed rates, so every
check and op has both passing and failing rows on every seed.

Each input set is stored with its expected outputs, computed by an
independent engine (the pandas oracle or DuckDB), and cached under a key
that includes a hash of the package's and the benchmark's sources. Run as a script, it
generates one workload's inputs into a cache directory (the benchmark does
this in a child process, before its set-up clock starts):

    python3 perfbench/gen.py --workload rule_checks --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 16
ROW_GROUPS_PER_FILE = 2

# Sizes per workload. "toy" keeps the self-test fast.
SIZES = {
    "crawl_filter": {"full": {"pages": 2000}, "toy": {"pages": 400}},
    "rule_checks": {
        "full": {"lineitem": 100_000, "orders": 25_000, "events": 20_000},
        "toy": {"lineitem": 4000, "orders": 1000, "events": 1000},
    },
    "corpus_ops": {
        "full": {"docs": 1000, "hosts": 100, "edges": 1000},
        "toy": {"docs": 400, "hosts": 40, "edges": 400},
    },
}

# planted fault rates (share of rows), rule_checks
NULL_ID_RATE = 0.001
DUP_ID_RATE = 0.002
ORPHAN_KEY_RATE = 0.005
QTY_OUT_RATE = 0.005
PRICE_BAD_RATE = 0.003
FLAG_BAD_RATE = 0.004
MODE_NULL_RATE = 0.003
MODE_BLANK_RATE = 0.002
DATE_BAD_RATE = 0.003
SHIP_EARLY_RATE = 0.005
COMMENT_BAD_RATE = 0.005
OVERLAP_RATE = 0.01

# corpus_ops
NEAR_DUP_RATE = 0.1
WORDS_PER_DOC = (40, 80)
VOCAB = 3000

SHIP_MODES = ["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR"]
FLAGS = ["A", "N", "R"]
COMMENT_WORDS = ["quick", "final", "deposits", "carefully", "ironic", "pending",
                 "requests", "slyly", "express", "accounts", "furiously", "bold"]


def _write(table: pa.Table, path: str) -> None:
    """N_FILES part files of ROW_GROUPS_PER_FILE row groups each."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(
                part,
                os.path.join(path, f"part-{i:05d}.parquet"),
                row_group_size=max(1, -(-part.num_rows // ROW_GROUPS_PER_FILE)),
            )


def _mask(rng: np.random.Generator, n: int, rate: float) -> np.ndarray:
    return rng.random(n) < rate


def _dates(days: np.ndarray) -> np.ndarray:
    return (np.datetime64("2020-01-01") + days.astype("timedelta64[D]")).astype(str)


def gen_rule_checks(out: str, seed: int, size: dict) -> dict:
    rng = np.random.default_rng(seed)
    n_li, n_o, n_ev = size["lineitem"], size["orders"], size["events"]

    o_key = np.arange(1, n_o + 1, dtype=np.int64)
    o_day = rng.integers(0, 1500, n_o)
    orders = pa.table({
        "o_orderkey": o_key,
        "o_custkey": rng.integers(1, max(2, n_o // 10), n_o),
        "o_orderdate": _dates(o_day),
    })

    l_id = np.arange(1, n_li + 1, dtype=np.int64)
    dup = np.flatnonzero(_mask(rng, n_li, DUP_ID_RATE))
    dup = dup[dup > 0]
    l_id[dup] = l_id[dup - 1]
    l_id_null = _mask(rng, n_li, NULL_ID_RATE)
    l_ok = rng.integers(1, n_o + 1, n_li)
    orphan = _mask(rng, n_li, ORPHAN_KEY_RATE)
    l_ok[orphan] = n_o + 1 + rng.integers(0, n_o, int(orphan.sum()))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    qty_out = _mask(rng, n_li, QTY_OUT_RATE)
    qty[qty_out] = np.where(rng.random(int(qty_out.sum())) < 0.5, 0.0, 75.0)
    price = np.round(qty * rng.uniform(900.0, 1100.0, n_li), 2)
    price_bad = _mask(rng, n_li, PRICE_BAD_RATE) & (qty > 1)
    price[price_bad] = qty[price_bad] - 1.0
    flag = np.array(FLAGS)[rng.integers(0, len(FLAGS), n_li)].astype(object)
    flag[_mask(rng, n_li, FLAG_BAD_RATE)] = "X"
    mode = np.array(SHIP_MODES)[rng.integers(0, len(SHIP_MODES), n_li)].astype(object)
    mode[_mask(rng, n_li, MODE_BLANK_RATE)] = ""
    mode[_mask(rng, n_li, MODE_NULL_RATE)] = None
    # ship date follows the order date (joined dimension), except planted
    # early shipments; a few dates are malformed strings
    base_day = o_day[np.minimum(l_ok, n_o) - 1]
    ship_day = base_day + rng.integers(1, 120, n_li)
    early = _mask(rng, n_li, SHIP_EARLY_RATE)
    ship_day[early] = base_day[early] - rng.integers(1, 30, int(early.sum()))
    ship = _dates(np.maximum(ship_day, 0)).astype(object)
    bad_date = _mask(rng, n_li, DATE_BAD_RATE)
    ship[bad_date] = np.where(
        rng.random(int(bad_date.sum())) < 0.5, "2021/03/04", "n/a"
    )
    words = np.array(COMMENT_WORDS)
    w = rng.integers(0, len(words), (n_li, 3))
    comment = np.char.add(np.char.add(words[w[:, 0]], " "),
                          np.char.add(np.char.add(words[w[:, 1]], " "), words[w[:, 2]]))
    comment = comment.astype(object)
    bad_c = np.flatnonzero(_mask(rng, n_li, COMMENT_BAD_RATE))
    comment[bad_c] = [f"ref #{int(i)}!" for i in bad_c]
    lineitem = pa.table({
        "l_id": pa.array(l_id, mask=l_id_null),
        "l_orderkey": l_ok,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_returnflag": pa.array(flag, pa.string()),
        "l_shipmode": pa.array(mode, pa.string()),
        "l_shipdate": pa.array(ship, pa.string()),
        "l_comment": pa.array(comment, pa.string()),
    })

    # events: back-to-back sessions per user, a few planted overlaps
    n_users = max(2, n_ev // 20)
    user = np.sort(rng.integers(0, n_users, n_ev))
    gap = rng.integers(60, 3600, n_ev)
    dur = rng.integers(10, 50, n_ev)
    start = np.cumsum(gap + dur)
    end = start + dur
    overlap = np.flatnonzero(_mask(rng, n_ev, OVERLAP_RATE))
    overlap = overlap[overlap + 1 < n_ev]
    end[overlap] = start[overlap + 1] + 5
    epoch = np.datetime64("2024-01-01T00:00:00", "s")
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "user_id": user.astype(np.int64),
        "start_ts": pa.array((epoch + start.astype("timedelta64[s]")).astype("datetime64[us]")),
        "end_ts": pa.array((epoch + end.astype("timedelta64[s]")).astype("datetime64[us]")),
    })
    for name, t in (("lineitem", lineitem), ("orders", orders), ("events", events)):
        _write(t, os.path.join(out, name))
    return {"items": n_li + n_ev}


def _zipf_choice(rng: np.random.Generator, n_values: int, size: int,
                 a: float = 1.2) -> np.ndarray:
    p = 1.0 / np.arange(1, n_values + 1) ** a
    return rng.choice(n_values, size=size, p=p / p.sum())


def gen_corpus_ops(out: str, seed: int, size: dict) -> dict:
    rng = np.random.default_rng(seed)
    n_docs, n_hosts, n_edges = size["docs"], size["hosts"], size["edges"]
    vocab = np.array([f"w{i}" for i in range(VOCAB)])
    lens = rng.integers(*WORDS_PER_DOC, n_docs)
    texts = [" ".join(vocab[rng.integers(0, VOCAB, k)]) for k in lens]
    # near-duplicates: a copy of an earlier document with 1-2 words changed
    near = np.flatnonzero(_mask(rng, n_docs, NEAR_DUP_RATE))
    for i in near[near > 0]:
        toks = texts[int(rng.integers(0, i))].split(" ")
        for j in rng.integers(0, len(toks), int(rng.integers(1, 3))):
            toks[j] = vocab[rng.integers(0, VOCAB)]
        texts[i] = " ".join(toks)
    host_id = _zipf_choice(rng, n_hosts, n_docs)
    hosts = np.char.add(np.char.add("h", host_id.astype(str)), ".example")
    path_id = rng.integers(0, 200, n_docs)  # repeated urls per host
    urls = np.char.add(np.char.add("http://", hosts),
                       np.char.add("/p", path_id.astype(str)))
    corpus = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "host": hosts,
        "url": urls,
        "text": pa.array(texts, pa.string()),
    })
    # host graph: uniform sources, Zipf-skewed destinations (in-degree)
    src = rng.integers(0, n_hosts, n_edges * 2)
    dst = _zipf_choice(rng, n_hosts, n_edges * 2)
    pairs = np.unique(np.stack([src, dst], 1)[src != dst], axis=0)
    pairs = pairs[rng.permutation(len(pairs))[:n_edges]]
    name = np.char.add(np.char.add("h", np.arange(n_hosts).astype(str)), ".example")
    edges = pa.table({"src": name[pairs[:, 0]], "dst": name[pairs[:, 1]]})
    _write(corpus, os.path.join(out, "corpus"))
    _write(edges, os.path.join(out, "edges"))
    return {"docs": n_docs, "edges": int(len(pairs))}


def gen_crawl_filter(out: str, seed: int, size: dict) -> dict:
    from data_quality_spark.pipeline.pages import write_parquet

    write_parquet(os.path.join(out, "pages"), size["pages"], seed=seed,
                  n_files=N_FILES)
    return {"items": size["pages"]}


GENERATORS = {
    "crawl_filter": gen_crawl_filter,
    "rule_checks": gen_rule_checks,
    "corpus_ops": gen_corpus_ops,
}


def oracle(workload: str, data: str) -> dict:
    """Expected outputs of the workload's inputs, from an independent
    engine: the pandas oracle or DuckDB."""
    if workload == "corpus_ops":
        from layers import ops_oracle

        return ops_oracle(data)
    from workloads import WORKLOADS

    return WORKLOADS[workload].oracle(data)


def source_digest() -> str:
    """Hash of every Python source of the package and of the benchmark.
    Inputs and expected outputs come from both (pages.write_parquet, the
    pandas oracle, the SQL twins), so a cache made by other code is never
    reused."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for top in (os.path.join(os.path.dirname(here), "data_quality_spark"), here):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(f for f in filenames if f.endswith(".py")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, here).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read() + b"\0")
    return h.hexdigest()[:16]


def ensure(root: str, workload: str, seed: int, size_name: str = "full") -> str:
    """Return the cache directory of (workload, seed, size, source digest),
    generating it first if absent, with the expected outputs from the
    workload's oracle. A `_done.json` marker is written last, so an
    interrupted generation is redone."""
    size = SIZES[workload][size_name]
    d = os.path.join(root, f"{workload}-s{seed}-{size_name}-{source_digest()}")
    marker = os.path.join(d, "_done.json")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        meta = GENERATORS[workload](d, seed, size)
        with open(os.path.join(d, "_expected.json"), "w") as fh:
            json.dump(oracle(workload, d), fh)
        with open(marker, "w") as fh:
            json.dump({"size": size, **meta}, fh)
        _prune(root)
    return d


def _prune(root: str, keep: int = 8) -> None:
    """Drop all but the `keep` most recently generated input sets, so that
    runs over many seeds do not fill the checkout's disk."""
    dirs = sorted((os.path.join(root, n) for n in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=["full", "toy"])
    ap.add_argument("--out", required=True, help="cache root directory")
    a = ap.parse_args()
    print(ensure(a.out, a.workload, a.seed, a.size))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
