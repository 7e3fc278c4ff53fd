"""Seeded input generators for the benchmark workloads.

Every generator writes plain files (parquet, CSV, JSON) into one
directory, with the reference answers the op checks need, outside any
timed region. The program under test only ever sees the written files.
The same ``(workload, seed, scale)`` always yields the same bytes, so a
directory left from an earlier run is reused.

Seeds below 1000 were used while tuning the benchmark; verification
runs, and claims about a change, use seeds from 1000 up.

Run standalone to materialise inputs for inspection::

    python3 perfbench/gen.py lake_discovery 7 /tmp/lake
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator changes, so cached input directories are rebuilt
GEN_VERSION = 7


def _unit_clusters(rng, n, dim, n_clusters, noise):
    """``n`` unit vectors around ``n_clusters`` random unit centres;
    returns (float32 matrix, cluster label per row)."""
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n)
    x = centres[labels] + rng.normal(scale=noise, size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels.astype(np.int32)


def _write_vectors(path, ids, mat, labels=None, dtype=np.float32):
    mat = np.ascontiguousarray(mat, dtype=dtype)
    offsets = np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32)
    cols = {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, mat.reshape(-1)),
    }
    if labels is not None:
        cols["label"] = pa.array(labels, type=pa.int32())
    pq.write_table(pa.table(cols), path)


# --------------------------------------------------------------------------
# semlink_grid
# --------------------------------------------------------------------------

def gen_semlink_grid(out, seed, scale):
    """2,000 x 64 unit vectors in 10 labelled clusters, the shape of the
    sf0.1 ``embeddings`` fixture. Cluster noise is set so same-label
    neighbours sit at sqrt-L2 of about 0.25-0.45, inside the grid's tau
    range, so the (k, tau) cells have non-zero true positives."""
    rng = np.random.default_rng(seed)
    n = max(50, int(2000 * scale))
    mat, labels = _unit_clusters(rng, n, 64, 10, noise=0.035)
    _write_vectors(os.path.join(out, "embeddings.parquet"), np.arange(n), mat, labels)
    return {"rows": n, "grid": _grid_oracle(out)}


def _grid_oracle(out):
    """The registry's DuckDB oracle for ``grid_eval_discovery`` replayed
    over the generated ``embeddings`` table, rows sorted by (k, tau)."""
    from decimal import Decimal

    import duckdb

    from semantic_ann_in_data_lake_spark.plans import registry

    sql = registry.oracle_sql()["grid_eval_discovery"]
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        path = os.path.join(out, "embeddings.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        rows = [
            {k: float(v) if isinstance(v, Decimal) else v for k, v in zip(names, r)}
            for r in cur.fetchall()
        ]
    finally:
        con.close()
    return sorted(rows, key=lambda r: (r["k"], r["tau"]))


# --------------------------------------------------------------------------
# lake_discovery
# --------------------------------------------------------------------------

#: shared value domains: (key, value kind, header aliases). Columns that
#: draw from one domain in different tables are the planted joinable
#: pairs; the aliases are the renamed headers a lake accumulates.
_DOMAINS = [
    ("customer", "key", ["customer_id", "cust_no", "client_key", "CustomerRef", "buyer id", "acct-holder"]),
    ("product", "key", ["product_id", "sku", "item_code", "ProductKey", "article no", "prod-ref"]),
    ("store", "key", ["store_id", "shop_no", "outlet_key", "StoreRef", "branch id", "site-code"]),
    ("country", "cat", ["country", "ctry_code", "nation", "CountryIso", "market cc", "geo-cc"]),
    ("currency", "cat", ["currency", "ccy", "cur_code", "CurrencyIso", "price unit", "fx-code"]),
    ("status", "cat", ["status", "state", "order_status", "StatusCode", "life cycle", "stage-flag"]),
]
_CAT_VOCAB = {
    "country": [f"C{i:02d}" for i in range(40)],
    "currency": ["EUR", "USD", "GBP", "JPY", "CHF", "SEK", "NOK", "DKK", "PLN", "CZK", "HUF", "AUD"],
    "status": ["new", "open", "paid", "shipped", "returned", "closed"],
}
_KEY_RANGE = 200_000
#: rows of the source and partner tables (the snapshot repeats the source)
LAKE_ROWS = (150_000, 100_000)
#: the snapshot table copies this many of the source's columns
_SNAPSHOT_COLS = 6


def _header_variant(rng, name):
    """A renamed header that the rule annotator cleans back to ``name``
    (case and separator changes only)."""
    style = rng.integers(0, 3)
    if style == 0:
        return name.upper().replace("_", "-")
    if style == 1:
        return " ".join(p.capitalize() for p in name.split("_"))
    return name.replace("_", " ")


def _prefixed(prefix, ints):
    """String column ``prefix + str(i)`` (pyarrow: numpy string ops
    dominate generation time at 1M rows)."""
    import pyarrow.compute as pc

    return pc.binary_join_element_wise(
        prefix, pa.array(ints).cast(pa.string()), ""
    )


def _free_column(rng, kind, n, tag):
    if kind == "num":
        return pa.array(np.round(rng.gamma(2.0, 50.0, size=n), 2)).cast(pa.string())
    if kind == "date":
        days = rng.integers(16436, 16436 + 3650, size=n).astype(np.int32)
        return pa.array(days, type=pa.date32()).cast(pa.string())
    if kind == "qty":
        return pa.array(rng.integers(1, 500, size=n)).cast(pa.string())
    # free-text code: medium cardinality, table-specific alphabet
    return _prefixed(f"{tag}-", rng.integers(0, 5000, size=n))


def gen_lake_discovery(out, seed, scale):
    """A CSV lake of 3 tables and 400k rows (times ``scale``): a source
    table, a partner table and a snapshot of the source.

    Planted truth, the same size on every seed:

    - 6 shared domains (3 key, 3 categorical), each in the source and
      the partner under different header aliases: 6 pairs. Their value
      samples differ, so a text-hash embedder cannot see them.
    - the snapshot: a renamed copy (case/separator changes) of the
      source's first 6 columns, same rows: 6 pairs whose column
      profiles are identical after annotation.

    With the rule annotator and the hash embedder only identical
    profiles are near each other, so the expected pair metrics are
    tp = 6, fp = 0, fn = 6 on every seed. Table, column and row counts
    do not depend on the seed, so neither does the work of an op.
    """
    rng = np.random.default_rng(seed)
    words = rng.permutation(["orders", "sales", "ledger", "events", "stock", "claims"])
    src, part, snap = f"t00_{words[0]}", f"t01_{words[1]}", f"t02_{words[0]}_snapshot"
    n_src, n_part = (max(100, int(n * scale)) for n in LAKE_ROWS)

    def row_ids(name, n):
        return _prefixed(name[:3].upper(), np.arange(n))

    tables = {src: {f"{src[4:]}_row_id": row_ids(src, n_src)}, part: {f"{part[4:]}_row_id": row_ids(part, n_part)}}
    for j, kind in enumerate(rng.permutation(["num", "date", "qty", "code", "num"])):
        tables[src][f"{kind}_{j}"] = _free_column(rng, kind, n_src, f"s{j}")
    tables[part]["qty_0"] = _free_column(rng, "qty", n_part, "p0")
    truth = []
    for dom, kind, aliases in _DOMAINS:
        headers = rng.permutation(aliases)[:2]
        for name, header in zip((src, part), headers):
            n = n_src if name == src else n_part
            if kind == "key":
                lo = int(rng.integers(0, _KEY_RANGE // 2))
                vals = _prefixed(dom[:2].upper(), rng.integers(lo, lo + _KEY_RANGE // 2, size=n))
            else:
                vocab = _CAT_VOCAB[dom]
                vals = pa.array(vocab).take(pa.array(rng.integers(0, len(vocab), size=n)))
            tables[name][str(header)] = vals
        truth.append((f"{src}.{headers[0]}", f"{part}.{headers[1]}"))
    tables[snap] = {}
    for c in list(tables[src])[:_SNAPSHOT_COLS]:
        h = _header_variant(rng, c)
        tables[snap][h] = tables[src][c]
        truth.append((f"{src}.{c}", f"{snap}.{h}"))

    for name, cols in tables.items():
        _write_csv(os.path.join(out, "lake", f"{name}.csv"), cols)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return {
        "rows": 2 * n_src + n_part,
        "columns": sum(len(c) for c in tables.values()),
        "expected": {"tp": _SNAPSHOT_COLS, "fp": 0, "fn": len(_DOMAINS)},
    }


def _write_csv(path, cols):
    import pyarrow.csv as pacsv

    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(cols)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))


# --------------------------------------------------------------------------
# ivf_ingest_search
# --------------------------------------------------------------------------

#: op cycle, on a fresh copy of the standing index: ROUNDS x (SEARCHES
#: searches, then one refresh)
ROUNDS = 3
SEARCHES = 2
K = 10


def gen_ivf_ingest_search(out, seed, scale):
    """A 50,000 x 64 clustered corpus (25x semlink_grid's) with its
    standing IVF index, ROUNDS held-out ingest batches of 200 vectors
    and ROUNDS x SEARCHES held-out query batches of 100 vectors, all
    from one distribution.

    The reference answer of each search is the numpy exact top-K over
    the corpus as it stands at that point of the cycle (base plus the
    batches ingested before it); every cycle replays the same sequence."""
    rng = np.random.default_rng(seed)
    n = max(500, int(50_000 * scale))
    n_ing = max(20, int(200 * scale))
    n_q = max(10, int(100 * scale))
    total = n + ROUNDS * n_ing + ROUNDS * SEARCHES * n_q
    mat, _ = _unit_clusters(rng, total, 64, 100, noise=0.06)
    base = mat[:n]
    ids = np.arange(n, dtype=np.int64)
    _write_vectors(os.path.join(out, "corpus.parquet"), ids, base)
    _write_ivf_index(os.path.join(out, "index"), ids, base, seed)
    pos = n
    corpus = base.astype(np.float64)
    corpus_ids = ids
    truth = {}
    for r in range(ROUNDS):
        for s in range(SEARCHES):
            q = mat[pos:pos + n_q]
            q_ids = 2_000_000 + (r * SEARCHES + s) * n_q + np.arange(n_q, dtype=np.int64)
            pos += n_q
            _write_vectors(os.path.join(out, f"queries_{r}_{s}.parquet"), q_ids, q)
            d = exact_l2(q.astype(np.float64), corpus)
            # top-K by (distance, id): partition, then order the K
            part = np.argpartition(d, K, axis=1)[:, :K]
            order = np.lexsort(
                (corpus_ids[part], np.take_along_axis(d, part, axis=1)), axis=1
            )
            top = np.take_along_axis(part, order, axis=1)
            truth[f"{r}_{s}"] = {
                "query_ids": q_ids.tolist(),
                "topk": corpus_ids[top].tolist(),
            }
        ing = mat[pos:pos + n_ing]
        ing_ids = 1_000_000 + r * n_ing + np.arange(n_ing, dtype=np.int64)
        pos += n_ing
        _write_vectors(os.path.join(out, f"ingest_{r}.parquet"), ing_ids, ing)
        corpus = np.vstack([corpus, ing.astype(np.float64)])
        corpus_ids = np.concatenate([corpus_ids, ing_ids])
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return {
        "rows": n, "ingest_rows": n_ing, "query_rows": n_q,
        "rounds": ROUNDS, "searches": SEARCHES, "k": K,
    }


def _write_ivf_index(path, ids, mat, seed):
    """A standing index in the layout ``build_ivf_index`` writes:
    ``centroids/`` (cell int, centroid array<double>) and hive-partitioned
    ``cells/cell=<c>/`` (vec_id long, embedding array<double>). Centroids
    are 10 Lloyd rounds from a seeded pick, nlist by ``derive_nlist``'s
    sqrt(n) rule, each vector in its nearest cell (lowest id on ties).

    Built here rather than by ``build_ivf_index``: on a 4-core box that
    call takes about 3 minutes on this corpus (its assignment shuffles
    the n x nlist vector-centroid product), longer than one run."""
    x = mat.astype(np.float64)
    n = len(x)
    nlist = int(min(4096, max(16, round(n ** 0.5))))
    rs = np.random.RandomState(seed)
    cent = x[rs.choice(n, size=min(nlist, n), replace=False)].copy()
    for _ in range(10):
        assign = exact_l2(x, cent).argmin(axis=1)
        counts = np.bincount(assign, minlength=len(cent))
        for j in range(x.shape[1]):
            sums = np.bincount(assign, weights=x[:, j], minlength=len(cent))
            nz = counts > 0
            cent[nz, j] = sums[nz] / counts[nz]
    assign = exact_l2(x, cent).argmin(axis=1)
    os.makedirs(os.path.join(path, "centroids"))
    pq.write_table(
        pa.table({
            "cell": pa.array(np.arange(len(cent), dtype=np.int32)),
            "centroid": pa.array(list(cent), type=pa.list_(pa.float64())),
        }),
        os.path.join(path, "centroids", "part-00000.parquet"),
    )
    for c in np.unique(assign):
        rows = assign == c
        d = os.path.join(path, "cells", f"cell={c}")
        os.makedirs(d)
        _write_vectors(os.path.join(d, "part-00000.parquet"), ids[rows], x[rows], dtype=np.float64)


def exact_l2(q, c):
    """Squared L2 between every row of ``q`` and of ``c`` (float64)."""
    return (
        (q * q).sum(axis=1)[:, None]
        - 2.0 * (q @ c.T)
        + (c * c).sum(axis=1)[None, :]
    )


def sequential_l2(a, b):
    """Row-wise squared L2 with one left-to-right add per lane: the same
    IEEE add chain as the package's ``l2_sq`` fold."""
    acc = np.zeros(len(a), dtype=np.float64)
    for i in range(a.shape[1]):
        diff = a[:, i] - b[:, i]
        acc = acc + diff * diff
    return acc


GENERATORS = {
    "semlink_grid": gen_semlink_grid,
    "lake_discovery": gen_lake_discovery,
    "ivf_ingest_search": gen_ivf_ingest_search,
}


def generate(workload, seed, scale, work_dir):
    """Materialise (or reuse) the inputs of one workload; returns
    ``(input_dir, meta)``."""
    out = os.path.join(work_dir, f"{workload}-s{seed}-x{scale:g}-v{GEN_VERSION}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    meta = GENERATORS[workload](out, seed, scale)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return out, meta


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), 1.0, sys.argv[3]))
