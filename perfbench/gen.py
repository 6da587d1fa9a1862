"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of the seed: the same seed writes
byte-identical parquet files and truth JSON, a different seed writes
different ones. Workload properties the engine's cost depends on (null,
outlier and duplicate shares, the date-format mix, near-duplicate share,
the update/insert/delete mix of a change batch) are themselves drawn from
the seed, inside ranges narrow enough that the work per run stays
comparable across seeds.

The values are TPC-H-shaped (lineitem columns and domains) and the text
vocabulary is synthesized from a fixed syllable table, so the generator
needs no file outside this directory.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows / documents / vectors per workload. Every engine call has a large
# fixed cost (job scheduling, code generation for unrolled vector
# expressions), so the inputs are sized for one cold pass per run.
SIZES = {
    "lineitem_rows": 40_000,
    "docs": 1_000,
    "vectors": 2_000,
    "queries": 64,
    "table_rows": 20_000,
    "index_vectors": 2_000,
    "batches": 4,
    "append_vectors": 50,
    "probe_queries": 16,
}

DIM = 64
DATE_FORMATS = ("%Y-%m-%d", "%d/%m/%Y", "%m-%d-%Y")
BAD_DATES = ("n/a", "unknown", "TBD", "??", "none", "pending", "--")
SHIPMODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
STOPWORDS = ("the", "of", "and", "to", "that", "with", "be", "have", "in", "is")
_SYLLABLES = (
    "ka", "lo", "mi", "ter", "val", "dro", "sen", "qui", "par", "mon",
    "ble", "tis", "gor", "nav", "ul", "ex", "pra", "do", "ri", "shan",
    "vel", "co", "bri", "tem", "na", "fos", "lu", "ham", "ze", "pol",
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def _vocab(n: int = 3000) -> list[str]:
    """Fixed synthetic content vocabulary: distinct alphabetic words of
    2-4 syllables, identical for every seed."""
    rng = np.random.default_rng(20200101)
    words: dict[str, None] = {}
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in STOPWORDS:
            words[w] = None
    return list(words)


# ---------------------------------------------------------------------------
# clean_loop: lineitem-shaped table with planted defects
# ---------------------------------------------------------------------------


def gen_lineitem(seed: int, n: int) -> tuple[pa.Table, dict]:
    rng = _rng(seed, 1)
    null_share = float(rng.uniform(0.01, 0.04))
    outlier_share = float(rng.uniform(0.002, 0.006))
    dup_share = float(rng.uniform(0.01, 0.03))
    bad_date_share = float(rng.uniform(0.01, 0.05))
    fmt_mix = rng.dirichlet([4.0, 2.0, 2.0])

    n_dup = int(round(n * dup_share))
    n_base = n - n_dup
    lines = rng.integers(1, 8, size=n_base)
    orderkey = np.repeat(np.arange(1, n_base + 1, dtype=np.int64) * 4, lines)[:n_base]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:n_base]
    partkey = rng.integers(1, 20_001, size=n_base).astype(np.int64)
    qty = rng.integers(1, 51, size=n_base).astype(np.float64)
    unit = 900.0 + (partkey % 1000) / 10.0 + (partkey // 1000) * 10.0
    price = np.round(qty * unit, 2)
    discount = rng.integers(0, 11, size=n_base) / 100.0
    tax = rng.integers(0, 9, size=n_base) / 100.0
    returnflag = rng.choice(np.array(["A", "N", "R"], dtype=object), size=n_base)
    linestatus = rng.choice(np.array(["F", "O"], dtype=object), size=n_base)
    shipmode = rng.choice(np.array(SHIPMODES, dtype=object), size=n_base)

    day0 = np.datetime64("1992-01-02")
    days = day0 + rng.integers(0, 2526, size=n_base).astype("timedelta64[D]")
    fmt_idx = rng.choice(3, size=n_base, p=fmt_mix)
    shipdate = np.empty(n_base, dtype=object)
    for i, fmt in enumerate(DATE_FORMATS):
        m = fmt_idx == i
        shipdate[m] = [d.item().strftime(fmt) for d in days[m]]
    bad = rng.random(n_base) < bad_date_share
    shipdate[bad] = rng.choice(np.array(BAD_DATES, dtype=object), size=int(bad.sum()))

    outliers = rng.random(n_base) < outlier_share
    price[outliers] = np.round(rng.uniform(500_000, 1_500_000, int(outliers.sum())), 2)
    qty_null = rng.random(n_base) < null_share
    price_null = (rng.random(n_base) < null_share) & ~outliers
    flag_null = rng.random(n_base) < null_share

    cols = {
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_quantity": pa.array(qty, pa.float64(), mask=qty_null),
        "l_extendedprice": pa.array(price, pa.float64(), mask=price_null),
        "l_discount": pa.array(discount, pa.float64()),
        "l_tax": pa.array(tax, pa.float64()),
        "l_returnflag": pa.array(returnflag, pa.string(), mask=flag_null),
        "l_linestatus": pa.array(linestatus, pa.string()),
        "l_shipmode": pa.array(shipmode, pa.string()),
        "l_shipdate_str": pa.array(shipdate, pa.string()),
    }
    base = pa.table(cols)
    dup_src = rng.choice(n_base, size=n_dup, replace=True)
    table = pa.concat_tables([base, base.take(pa.array(dup_src))])
    table = table.take(pa.array(rng.permutation(n)))
    truth = {
        "rows": n,
        "planted_dup_rows": n_dup,
        "planted_outliers": int(outliers.sum()),
        "planted_nulls": {
            "l_quantity": int(qty_null.sum()),
            "l_extendedprice": int(price_null.sum()),
            "l_returnflag": int(flag_null.sum()),
        },
        "planted_bad_dates": int(bad.sum()),
        "expected_missions": [
            "outliers:l_extendedprice",
            "missing:l_quantity",
            "missing:l_extendedprice",
            "missing:l_returnflag",
            "duplicates:*",
            "date_mixed:l_shipdate_str",
        ],
        "shares": {
            "null": null_share,
            "outlier": outlier_share,
            "dup": dup_share,
            "bad_date": bad_date_share,
            "date_formats": [float(x) for x in fmt_mix],
        },
    }
    return table, truth


# ---------------------------------------------------------------------------
# corpus_curate: documents with planted near-duplicates + clustered vectors
# ---------------------------------------------------------------------------


def _doc_tokens(rng: np.random.Generator, vocab: list[str], n_words: int) -> list[str]:
    zipf = np.minimum(rng.zipf(1.3, size=n_words), len(vocab)) - 1
    content = rng.permutation(len(vocab))[zipf]
    is_stop = rng.random(n_words) < 0.3
    stop = rng.integers(0, len(STOPWORDS), size=n_words)
    toks = [
        STOPWORDS[stop[j]] if is_stop[j] else vocab[content[j]] for j in range(n_words)
    ]
    # every good document carries at least two Gopher required words
    toks[0], toks[1] = "the", "of"
    return toks


def _render(toks: list[str]) -> str:
    lines = [" ".join(toks[i : i + 14]) for i in range(0, len(toks), 14)]
    return "\n".join(lines)


def gen_documents(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    rng = _rng(seed, 2)
    vocab = _vocab()
    low_share = float(rng.uniform(0.04, 0.08))
    group_share = float(rng.uniform(0.15, 0.25))
    exact_share = float(rng.uniform(0.3, 0.6))

    n_low = int(round(n_docs * low_share))
    n_in_groups = int(round(n_docs * group_share))
    sizes = []
    while sum(sizes) < n_in_groups:
        sizes.append(int(rng.integers(2, 5)))
    n_unique = n_docs - n_low - sum(sizes)

    texts: list[str] = []
    groups: list[list[int]] = []
    for _ in range(n_unique):
        texts.append(_render(_doc_tokens(rng, vocab, int(rng.integers(60, 160)))))
    for size in sizes:
        src = _doc_tokens(rng, vocab, int(rng.integers(60, 160)))
        members = [len(texts)]
        texts.append(_render(src))
        for _ in range(size - 1):
            copy = list(src)
            if rng.random() >= exact_share:
                pos = int(rng.integers(2, len(copy)))
                copy[pos] = vocab[int(rng.integers(0, len(vocab)))]
                text = _render(copy)
            else:
                # exact copy after with_clean_text: typographic noise only
                text = _render(copy).replace(" of ", " of\u200b ", 1).replace(
                    "\n", "  \n", 1
                )
            members.append(len(texts))
            texts.append(text)
        groups.append(members)
    low_idx = []
    for j in range(n_low):
        kind = j % 3
        if kind == 0:  # too short
            toks = _doc_tokens(rng, vocab, int(rng.integers(10, 40)))
        elif kind == 1:  # symbol-heavy
            toks = _doc_tokens(rng, vocab, 80)
            toks = [t if i % 4 else "#" + t for i, t in enumerate(toks)]
            toks[5::6] = ["#"] * len(toks[5::6])
        else:  # mostly numeric tokens
            toks = _doc_tokens(rng, vocab, 80)
            toks[2::3] = [str(int(x)) for x in rng.integers(0, 10**6, len(toks[2::3]))]
        low_idx.append(len(texts))
        texts.append(_render(toks))

    ids = rng.permutation(np.arange(10_000, 10_000 + len(texts), dtype=np.int64))
    order = rng.permutation(len(texts))
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    truth = {
        "docs": len(texts),
        "groups": [[int(ids[m]) for m in g] for g in groups],
        "low_quality_ids": sorted(int(ids[i]) for i in low_idx),
        "shares": {"low": low_share, "grouped": group_share, "exact": exact_share},
    }
    return table, truth


def _clustered_vectors(
    rng: np.random.Generator, n: int, n_centers: int, dup_share: float
) -> np.ndarray:
    centers = rng.normal(size=(n_centers, DIM))
    assign = rng.integers(0, n_centers, size=n)
    x = centers[assign] + rng.normal(scale=0.6, size=(n, DIM))
    n_dup = int(round(n * dup_share))
    src = rng.integers(0, n - n_dup, size=n_dup)
    x[n - n_dup :] = x[src] + rng.normal(scale=0.01, size=(n_dup, DIM))
    return x.astype(np.float32)


def _vec_table(ids: np.ndarray, x: np.ndarray, id_name: str) -> pa.Table:
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            id_name: pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
        }
    )


def gen_vectors(seed: int, n: int, n_queries: int, stream: int) -> tuple[pa.Table, pa.Table, dict]:
    rng = _rng(seed, stream)
    dup_share = float(rng.uniform(0.05, 0.15))
    x = _clustered_vectors(rng, n, 32, dup_share)
    q_src = rng.integers(0, n, size=n_queries)
    q = (x[q_src] + rng.normal(scale=0.3, size=(n_queries, DIM))).astype(np.float32)
    corpus = _vec_table(np.arange(n, dtype=np.int64), x, "vec_id")
    queries = _vec_table(np.arange(n_queries, dtype=np.int64), q, "query_id")
    return corpus, queries, {"vectors": n, "queries": n_queries, "dup_share": dup_share}


# ---------------------------------------------------------------------------
# ingest_serve: base table + change batches + vector appends + probes
# ---------------------------------------------------------------------------


def gen_ingest(seed: int, size: dict) -> tuple[dict[str, pa.Table], dict]:
    rng = _rng(seed, 3)
    n = size["table_rows"]
    mix = rng.dirichlet([6.0, 3.0, 1.5])  # update, insert, delete
    batch_share = float(rng.uniform(0.008, 0.012))
    cats = np.array(["a", "b", "c", "d", "e"], dtype=object)

    def rows(keys: np.ndarray, ts: int, ops: np.ndarray | None) -> pa.Table:
        k = len(keys)
        cols = {
            "key": pa.array(keys, pa.int64()),
            "ts": pa.array(np.full(k, ts, dtype=np.int64)),
            "qty": pa.array(rng.integers(1, 51, size=k).astype(np.float64)),
            "price": pa.array(np.round(rng.uniform(1.0, 10_000.0, size=k), 2)),
            "cat": pa.array(rng.choice(cats, size=k), pa.string()),
        }
        if ops is not None:
            cols["op"] = pa.array(ops, pa.string())
        return pa.table(cols)

    keys = rng.permutation(np.arange(n, dtype=np.int64))
    tables = {"base": rows(keys, 0, None)}
    live = set(keys.tolist())
    next_key = n
    shapes = []
    for b in range(size["batches"]):
        m = max(3, int(round(n * batch_share)))
        n_upd, n_ins = (np.round(mix[:2] * m)).astype(int)
        n_del = max(1, m - n_upd - n_ins)
        pool = np.sort(np.fromiter(live, dtype=np.int64))
        picked = rng.choice(pool, size=n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
        next_key += n_ins
        live.difference_update(dele.tolist())
        live.update(ins.tolist())
        all_keys = np.concatenate([upd, ins, dele])
        ops = np.array(["U"] * len(upd) + ["I"] * len(ins) + ["D"] * len(dele), dtype=object)
        perm = rng.permutation(len(all_keys))
        tables[f"changes_{b}"] = rows(all_keys[perm], b + 1, ops[perm])
        shapes.append({"updates": int(n_upd), "inserts": int(n_ins), "deletes": int(n_del)})

    n_vec = size["index_vectors"]
    a = size["append_vectors"]
    total = n_vec + a * size["batches"]
    x = _clustered_vectors(rng, total, 32, 0.05)
    tables["index_base"] = _vec_table(np.arange(n_vec, dtype=np.int64), x[:n_vec], "vec_id")
    for b in range(size["batches"]):
        lo = n_vec + b * a
        tables[f"append_{b}"] = _vec_table(
            np.arange(lo, lo + a, dtype=np.int64), x[lo : lo + a], "vec_id"
        )
        q_src = rng.integers(0, lo + a, size=size["probe_queries"])
        q = (x[q_src] + rng.normal(scale=0.3, size=(len(q_src), DIM))).astype(np.float32)
        tables[f"probe_{b}"] = _vec_table(
            np.arange(len(q_src), dtype=np.int64), q, "query_id"
        )
    truth = {
        "table_rows": n,
        "batches": size["batches"],
        "batch_shapes": shapes,
        "live_keys_after": len(live),
        "mix": [float(v) for v in mix],
    }
    return tables, truth


# ---------------------------------------------------------------------------


def generate(workload: str, seed: int, out_dir: str, size: dict = SIZES) -> dict:
    """Write one workload's inputs and planted truth under ``out_dir``;
    returns {"files": {name: path}, "truth": {...}}."""
    os.makedirs(out_dir, exist_ok=True)
    files: dict[str, str] = {}
    if workload == "clean_loop":
        table, truth = gen_lineitem(seed, size["lineitem_rows"])
        tables = {"lineitem": table}
    elif workload == "corpus_curate":
        docs, truth = gen_documents(seed, size["docs"])
        corpus, queries, vtruth = gen_vectors(seed, size["vectors"], size["queries"], 4)
        truth["vectors"] = vtruth
        tables = {"documents": docs, "embeddings": corpus, "queries": queries}
    elif workload == "ingest_serve":
        tables, truth = gen_ingest(seed, size)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        files[name] = path
    truth["seed"] = int(seed)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return {"files": files, "truth": truth}
