"""Seeded input generator for the danaespark benchmark.

Everything a run feeds the engine comes from here and from one seed:

* the lake: TPC-H-like star tables plus ``events``, ``documents`` and ``embeddings``, with
  exactly the schemas of the engine's test fixtures (the oracle SQL and the
  profiler's column typing both key on them);
* new versions of the star tables that ``publish_while_serving`` publishes:
  a row sample with perturbed values and the same schema;
* the micro-batch files ``corpus_admit`` feeds the admission gate: unseen
  documents plus a share of injected near-duplicates of seed documents.

Sizes scale with ``sf`` the way the fixture lakes do (lineitem = 6e6 * sf).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Must match SparkEntry.DocBound: documents below it form the seed corpus.
DOC_BOUND = 300
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "shiny", "matte", "black"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
# Star tables a publish rotates through (small, medium and large refreshes).
PUBLISH_TABLES = ["customer", "part", "orders"]

DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    """Write atomically: readers never see a half-written file."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, years=10):
    days = rng.integers(0, 365 * years, n)
    return pa.array(EPOCH_1992_US + days * DAY_US, pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def sizes(sf: float) -> dict:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def star_table(name: str, n: int, rng, n_of: dict) -> pa.Table:
    key = np.arange(n, dtype=np.int64)
    if name == "customer":
        return pa.table({
            "c_custkey": key,
            "c_name": pa.array([f"Customer#{i:09d}" for i in key], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": key,
            "s_name": pa.array([f"Supplier#{i:09d}" for i in key], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    if name == "part":
        names = [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                 zip(rng.integers(0, len(COLORS), n), rng.integers(0, len(NOUNS), n))]
        return pa.table({
            "p_partkey": key,
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
            "p_type": _pick(rng, PTYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (key % 20_000) * 0.1, 2)})
    if name == "orders":
        return pa.table({
            "o_orderkey": key,
            "o_custkey": rng.integers(0, n_of["customer"], n).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 850.0, 550_000.0, n),
            "o_orderdate": _dates(rng, n),
            "o_orderpriority": _pick(rng, PRIORITIES, n)})
    if name == "lineitem":
        qty = rng.integers(1, 51, n).astype(np.float64)
        return pa.table({
            "l_orderkey": rng.integers(0, n_of["orders"], n).astype(np.int64),
            "l_partkey": rng.integers(0, n_of["part"], n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_of["supplier"], n).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _dates(rng, n)})
    raise ValueError(name)


# Unseen documents draw from a wider vocabulary than the seed corpus, so
# they are new to the gate unless they copy a seed document.
STREAM_VOCAB = VOCAB + [f"w{i}" for i in range(2000)]


def doc_lengths(rng, n, lo=10, hi=100):
    """Token counts of ``n`` documents: the same evenly spread multiset for
    every seed, in a seeded order, so the amount of text does not vary with
    the seed."""
    return rng.permutation(np.linspace(lo, hi, n).round().astype(int))


def doc_text(rng, length, vocab=VOCAB) -> str:
    words = np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), length)]
    return " ".join(words)


def documents(rng, ids) -> pa.Table:
    # the seed corpus (ids below DOC_BOUND) gets its own multiset of lengths
    head = min(DOC_BOUND, len(ids))
    lengths = np.concatenate([doc_lengths(rng, head), doc_lengths(rng, len(ids) - head)])
    texts = [doc_text(rng, n) for n in lengths]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, len(ids)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, len(ids))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def sample_bucket(doc_id: int) -> int:
    """CorpusOps.sampleBucket: md5 of the decimal id, first 8 hex digits, mod 100."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100


def make_lake(out: str, seed: int, sf: float) -> dict:
    """Write the lake's parquet files into ``out``; return row counts."""
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    rng = np.random.default_rng([seed, 1])
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    for t in ["customer", "supplier", "part", "orders", "lineitem"]:
        _write(star_table(t, n[t], rng, n), f"{out}/{t}.parquet")
    ne = n["events"]
    ts = 1_704_067_200 * 1_000_000 + np.cumsum(rng.integers(1, 360_000_000, ne))
    _write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, ne // 100), ne).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": _money(rng, 0.0, 20.0, ne),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string())}),
        f"{out}/events.parquet")
    _write(documents(rng, list(range(n["documents"]))), f"{out}/documents.parquet")
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.1, (nv, 64)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())}),
        f"{out}/embeddings.parquet")
    n["region"], n["nation"] = 5, 25
    return n


def perturbed_version(base: pa.Table, rng) -> pa.Table:
    """A new version of a star table: a row sample with perturbed values.

    Numeric non-key columns are scaled by up to +-20%, one in ten string
    values is swapped for another value of the same column, and dates move by
    up to a year. The schema is unchanged.
    """
    n = base.num_rows
    keep = np.sort(rng.choice(n, size=max(1, int(n * rng.uniform(0.7, 0.95))), replace=False))
    t = base.take(pa.array(keep))
    cols = {}
    for f in t.schema:
        c = t.column(f.name).combine_chunks()
        m = t.num_rows
        if f.name.endswith("key") or f.name.endswith("name"):
            cols[f.name] = c
        elif pa.types.is_floating(f.type):
            cols[f.name] = pa.array(np.round(c.to_numpy() * rng.uniform(0.8, 1.2, m), 2), f.type)
        elif pa.types.is_integer(f.type):
            v = c.to_numpy() + rng.integers(-2, 3, m)
            cols[f.name] = pa.array(np.clip(v, 1, None), f.type)
        elif pa.types.is_timestamp(f.type):
            v = c.cast(pa.int64()).to_numpy() + rng.integers(-365, 366, m) * DAY_US
            cols[f.name] = pa.array(v, f.type)
        elif pa.types.is_string(f.type):
            vals = np.asarray(c.to_pylist(), dtype=object)
            swap = rng.random(m) < 0.1
            vals[swap] = vals[rng.integers(0, m, int(swap.sum()))]
            cols[f.name] = pa.array(vals.tolist(), f.type)
        else:
            cols[f.name] = c
    return pa.table(cols, schema=t.schema)


def make_versions(lake: str, out: str, seed: int, count: int) -> list:
    """Write ``count`` publishable versions, rotating over PUBLISH_TABLES."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    bases = {t: pq.read_table(f"{lake}/{t}.parquet") for t in PUBLISH_TABLES}
    plan = []
    for i in range(count):
        t = PUBLISH_TABLES[i % len(PUBLISH_TABLES)]
        path = f"{out}/v{i:03d}_{t}.parquet"
        _write(perturbed_version(bases[t], rng), path)
        plan.append({"table": t, "file": path})
    return plan


def make_stream(lake: str, out: str, seed: int, batches: int, batch_docs: int,
                dup_share: float) -> dict:
    """Write ``batches`` micro-batch files of unseen documents.

    Exactly a ``dup_share`` of each batch, at seeded positions, copies a
    seed document (id below DocBound and in the seed sample): half
    verbatim, half with one token appended. Verbatim copies must be
    rejected by the gate; the ids are returned. The other documents' token
    counts are the same multiset in every batch.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    docs = pq.read_table(f"{lake}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    seed_docs = [(i, t) for i, t in zip(docs["doc_id"], docs["text"])
                 if i < DOC_BOUND and sample_bucket(i) < 80]
    next_id = 1_000_000
    files, exact = [], []
    n_dup = int(round(dup_share * batch_docs))
    for b in range(batches):
        ids, texts = [], []
        kind = np.zeros(batch_docs, dtype=int)  # 0 new, 1 verbatim, 2 appended
        kind[rng.choice(batch_docs, n_dup, replace=False)] = [1, 2] * (n_dup // 2) + [1] * (n_dup % 2)
        lengths = iter(doc_lengths(rng, batch_docs - n_dup))
        for k in kind:
            if k:
                src = seed_docs[rng.integers(0, len(seed_docs))][1]
                if k == 1:
                    exact.append(next_id)
                    texts.append(src)
                else:
                    texts.append(src + " " + VOCAB[rng.integers(0, len(VOCAB))])
            else:
                texts.append(doc_text(rng, next(lengths), vocab=STREAM_VOCAB))
            ids.append(next_id)
            next_id += 1
        path = f"{out}/batch_{b:04d}.parquet"
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array(texts, pa.string())}), path)
        files.append(path)
    return {"files": files, "exact_dup_ids": exact, "seed_docs": len(seed_docs)}
