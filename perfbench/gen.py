"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`, with the column types the engine's
loaders expect) and the two pipeline datasets. Output is byte-identical
for the same arguments, so it gives the same canonical result digests.

    python3 perfbench/gen.py --kind suite --out .perfbench/data/x
    python3 perfbench/gen.py --kind pipeline --seed 7 --out .perfbench/data/y

Kinds:
  suite     one file per table at `--sf` (one row group, like the sf0.1
            fixture: scans never split). The tables are fixed, like the
            fixture; a run's seed only orders the queries.
  pipeline  dense 10-class Gaussian vectors and a labelled text corpus drawn
            from `--seed`, training splits written as `--files` files
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the big small fast slow hash sort merge join scan filter group "
         "agg key value row column table order part line customer data "
         "query window stream batch vector spark").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.147, 0.412, 0.147, 0.147, 0.147]
SUITE_SEED = 0

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values, idx):
    """values[idx] as an Arrow string array."""
    return pa.array(values).take(pa.array(idx))


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def star_tables(rng, sf):
    """region..lineitem at scale `sf`."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(names, rng.integers(0, len(names), n_part)),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    days_o = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, days_o + 1, n_ord) * DAY_US),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord))})
    days_l = (np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, days_l + 1, n_line)) * DAY_US)})
    return t


def events_table(rng, sf, n_users):
    n = int(1_000_000 * sf)
    gaps = rng.uniform(0.0, 1.0, n)
    ts = EPOCH_2024 + (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.9999).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()])})


def documents_table(rng, sf):
    """Random word documents; 5% are near-duplicates of an earlier document
    (a copy with one word replaced and a trailing "dup" token)."""
    n = int(50_000 * sf)
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    toks = words[rng.integers(0, len(words), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    is_dup = rng.uniform(size=n) < 0.05
    is_dup[0] = False
    src = (rng.uniform(size=n) * np.arange(n)).astype(np.int64)
    texts = []
    for i in range(n):
        if is_dup[i]:
            base = texts[src[i]].split(" ")
            base[rng.integers(0, len(base))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(base) + " dup")
        else:
            texts.append(" ".join(toks[bounds[i]:bounds[i + 1]]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids, "text": pa.array(texts),
        "lang": _pick(LANGS, rng.choice(5, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids.tolist()]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def embeddings_table(rng, sf):
    n, d = int(20_000 * sf), 64
    labels = rng.integers(0, 10, n, dtype=np.int32)
    centers = rng.normal(0.0, 0.015, (10, d))
    x = (rng.normal(0.0, 0.125, (n, d)) + centers[labels]).astype(np.float32)
    emb = pa.ListArray.from_arrays(np.arange(0, n * d + 1, d, dtype=np.int32),
                                   pa.array(x.reshape(-1), pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb, "label": labels})


def corpus(sf):
    """All ten tables at scale `sf`."""
    rng = np.random.default_rng([SUITE_SEED, 0])
    t = star_tables(rng, sf)
    t["events"] = events_table(rng, sf, int(15_000 * sf))
    t["documents"] = documents_table(rng, sf)
    t["embeddings"] = embeddings_table(rng, sf)
    return t


def write_table(out, name, parts):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    for i, part in enumerate(parts):
        pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"),
                       row_group_size=1 << 20)


def gen_suite(out, sf):
    for name, table in corpus(sf).items():
        write_table(out, name, [table])


def _split(t, files):
    step = -(-t.num_rows // files)
    return [t.slice(o, step) for o in range(0, t.num_rows, step)]


def gen_pipeline(out, seed, n_dense, dim, n_text, vocab, files):
    """Dense: 10 Gaussian classes in `dim` dimensions. Text: two classes
    whose documents draw tokens from class-dependent Zipf frequencies,
    padded with stray whitespace and capitals for Trim and LowerCase.
    Training splits are written as `files` files so the fits run in
    parallel."""
    rng = np.random.default_rng([seed, 99])
    labels = rng.integers(0, 10, n_dense)
    centers = rng.normal(0.0, 1.0, (10, dim))
    x = centers[labels] + rng.normal(0.0, 2.0, (n_dense, dim))
    split = rng.uniform(size=n_dense) < 0.8
    vec = pa.ListArray.from_arrays(np.arange(0, n_dense * dim + 1, dim, dtype=np.int32),
                                   pa.array(x.reshape(-1)))
    dense = pa.table({"id": np.arange(n_dense, dtype=np.int64),
                      "label": labels.astype(np.int32), "x": vec})
    write_table(out, "dense_train", _split(dense.filter(pa.array(split)), files))
    write_table(out, "dense_test", [dense.filter(pa.array(~split))])

    tokens = np.array([f"w{i}" for i in range(vocab)])
    base = 1.0 / np.arange(1, vocab + 1) ** 1.1
    probs = []
    for _ in range(2):
        p = base[rng.permutation(vocab)] * 0.2 + base * 0.8
        probs.append(p / p.sum())
    tl = rng.integers(0, 2, n_text)
    lens = rng.integers(15, 60, n_text)
    texts = []
    for c, n in zip(tl.tolist(), lens.tolist()):
        words = tokens[rng.choice(vocab, n, p=probs[c])].tolist()
        j = int(rng.integers(0, n))
        words[j] = words[j].upper()
        texts.append("  " + " ".join(words) + " ")
    split = rng.uniform(size=n_text) < 0.8
    text = pa.table({"id": np.arange(n_text, dtype=np.int64),
                     "label": tl.astype(np.float64), "text": pa.array(texts)})
    write_table(out, "text_train", _split(text.filter(pa.array(split)), files))
    write_table(out, "text_test", [text.filter(pa.array(~split))])


def generator_digest():
    """Digest of this file plus the library versions that shape its output."""
    with open(__file__, "rb") as f:
        h = hashlib.sha256(f.read())
    h.update(f"{np.__version__} {pa.__version__}".encode())
    return h.hexdigest()[:16]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", required=True, choices=["suite", "pipeline"])
    ap.add_argument("--seed", type=int, help="required for --kind pipeline")
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--files", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--dense-rows", type=int, default=6_000)
    ap.add_argument("--dim", type=int, default=32)
    ap.add_argument("--text-rows", type=int, default=1_200)
    ap.add_argument("--vocab", type=int, default=400)
    a = ap.parse_args(argv)
    if a.kind == "pipeline" and a.seed is None:
        ap.error("--kind pipeline needs --seed")
    if a.kind == "suite":
        gen_suite(a.out, a.sf)
    else:
        gen_pipeline(a.out, a.seed, a.dense_rows, a.dim, a.text_rows, a.vocab, a.files)
    with open(os.path.join(a.out, "_inputs.json"), "w") as f:
        json.dump({"kind": a.kind, "seed": a.seed, "generator": generator_digest()}, f)


if __name__ == "__main__":
    sys.exit(main())
