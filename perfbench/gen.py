"""Deterministic input generators for the benchmark.

Two kinds of input:

* the read corpus (TPC-H-ish star schema plus events, documents and
  embeddings), in the layout and schema of the engine's gate corpora
  (one parquet file per table, pyarrow-written, timestamp[us]). It is
  fixed: the same bytes on every run, so every query has one expected
  checksum per corpus (see expected/).
* the ETL batches for `etl_commit`, generated from the run's seed, and
  the model that predicts what the engine must produce from them.
"""

import datetime as _dt
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

# rows per table at scale 1 (the layout of the engine's sf0.01 corpus)
BASE_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
          "key line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()


def _ts(start, end, n, rng):
    """n timestamp[us] values drawn uniformly from whole days in [start, end]."""
    days = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus_tables(seed=CORPUS_SEED):
    """The read corpus as {name: pyarrow.Table}; a pure function of seed."""
    rng = np.random.default_rng(seed)
    n = BASE_ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": list(rng.choice(_SEGMENTS, c))})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": list(rng.choice(_PTYPES, p)),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    odate = _ts(_dt.date(1995, 1, 1), _dt.date(2001, 8, 1), o, rng)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], o)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(_PRIORITIES, o))})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], li)),
        "l_linestatus": list(rng.choice(["F", "O"], li)),
        "l_shipdate": pa.array(_ts(_dt.date(1995, 1, 2), _dt.date(2001, 11, 4), li, rng),
                               pa.timestamp("us"))})
    e = n["events"]
    gaps = rng.integers(1_000_000, 518_000_000, e)  # µs between events
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": list(rng.choice(_EVENTS, e)),
        "value": _money(rng, 0.01, 490.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i >= 20 and rng.random() < 0.15:  # planted near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, d)),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return t


def write_corpus(out_dir, seed=CORPUS_SEED):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def corpus_row_counts(corpus_dir):
    """Row counts read from the parquet footers (file or part-file dir)."""
    counts = {}
    for name in BASE_ROWS:
        path = os.path.join(corpus_dir, f"{name}.parquet")
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
                 if os.path.isdir(path) else [path])
        counts[name] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return counts


# ---- etl_commit: seeded batches and their model ----

ETL_PAGE = 100         # PagedSource page size
ETL_BOOT_ROWS = 1000   # identifiers committed by the set-up batch
ETL_BATCH_ROWS = 500   # identifiers read per timed batch
ETL_OVERLAP = 200      # of them already committed (updates)
_TRAIT_TYPES = ["background", "eyes", "hat", "mouth"]
_TRAIT_VALUES = ["red", "blue", "gold", "gray", "none", "laser", "bored", "grin", "cap", "halo"]


def etl_ranges(batches):
    """Identifier ranges [lo, hi) per batch; batch 0 is the set-up batch.
    Each timed batch re-reads the last ETL_OVERLAP committed identifiers,
    so every commit carries updates beside inserts. The ranges are the
    same for every seed, so every seed does the same amount of work."""
    ranges = [(0, ETL_BOOT_ROWS)]
    for _ in range(batches):
        lo = ranges[-1][1] - ETL_OVERLAP
        ranges.append((lo, lo + ETL_BATCH_ROWS))
    return ranges


def etl_batch(seed, b, lo, hi):
    """Raw detail JSON lines for identifiers [lo, hi) of batch b, and the
    identifiers whose line is planted malformed."""
    rng = np.random.default_rng([seed, 2, b])
    lines, bad = [], []
    for ident in range(lo, hi):
        traits = [{"trait_type": tt, "value": str(rng.choice(_TRAIT_VALUES))}
                  for tt in _TRAIT_TYPES]
        row = {"identifier": str(ident), "collection": f"collection{ident % 7}",
               "contract": "0x%08x" % int(rng.integers(0, 2**32)),
               "token_standard": "erc721", "name": f"Token #{ident}",
               "metadata_url": f"https://api.example.com/meta/{ident}",
               "traits": traits}
        line = json.dumps(row, separators=(",", ":"))
        if rng.random() < 0.03:
            bad.append(ident)
            line = line[: int(rng.integers(5, len(line) - 5))]  # truncated payload
        lines.append(line)
    return lines, bad


def traits_sig(line):
    """The engine's per-identifier trait signature for a well-formed line:
    sorted `type=value` pairs joined by ';'."""
    row = json.loads(line)
    return ";".join(sorted(f"{t['trait_type']}={t['value']}" for t in row["traits"]))


def row_check(ident, contract, sig):
    """Per-row key checksum term, mirrored in the harness as
    pmod(vec_id * 1000003 + crc32(contract) + 7 * crc32(traits_sig), 2^31)."""
    c = zlib.crc32(contract.encode()) if contract is not None else 0
    t = zlib.crc32(sig.encode()) if sig is not None else 0
    return (ident * 1000003 + c + 7 * t) % (2 ** 31)


def write_etl_inputs(out_dir, seed, batches):
    """Write batch_<b>.jsonl for b in 0..batches and return the model:
    per batch, the planted quarantine count and the expected head state
    (row count and key checksum) after its commit."""
    os.makedirs(out_dir, exist_ok=True)
    state = {}
    model = []
    for b, (lo, hi) in enumerate(etl_ranges(batches)):
        lines, bad = etl_batch(seed, b, lo, hi)
        with open(os.path.join(out_dir, f"batch_{b}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        bad_set = set(bad)
        for ident, line in zip(range(lo, hi), lines):
            if ident in bad_set:
                state[ident] = (None, None)
            else:
                state[ident] = (json.loads(line)["contract"], traits_sig(line))
        model.append({
            "lo": lo, "hi": hi, "file": f"batch_{b}.jsonl",
            "quarantined": len(bad),
            "head_rows": len(state),
            "head_check": sum(row_check(i, c, s) for i, (c, s) in state.items()),
        })
    return model
