"""Workload inputs staged from the shipped sf0.1 tables.

`curation_sample(src, out)` is the `query_mix` input: every table of
`src` as it is, except that the two curation tables keep every
`CURATION_STRIDE`-th row. `scale_up(src, out, copies, seed)` is the
`scan_x10` input: the two fact tables replicated with per-copy key
offsets and perturbed measures, dimension tables unchanged; it is a pure
function of the seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DIMENSIONS = tuple(t for t in TABLES if t not in ("orders", "lineitem"))
# The curation operators (minhash dedup, BPE encode, ANN) cost 1.5-2.6 s
# each over the full documents and embeddings, 1.0-1.5 s over a fifth of
# their rows, which keeps one query_mix pass near eight seconds.
CURATION_STRIDE = 5
CURATION_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def _set(t, name, values):
    return t.set_column(t.schema.get_field_index(name), name, pa.array(values))


def curation_sample(src_dir, out_dir):
    """Link the shipped tables into `out_dir`, keeping every
    CURATION_STRIDE-th row (by key) of the curation tables."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        src, out = (os.path.join(d, f"{name}.parquet") for d in (src_dir, out_dir))
        if name in CURATION_KEYS:
            t = pq.read_table(src)
            keep = t[CURATION_KEYS[name]].to_numpy() % CURATION_STRIDE == 0
            pq.write_table(t.filter(pa.array(keep)), out)
        else:
            os.link(src, out)


def scale_up(src_dir, out_dir, copies, seed):
    """Write `copies` copies of lineitem and orders into `out_dir`.

    Copy c offsets order keys by c * (max order key + 1), so every
    lineitem still joins its order, and perturbs the measure columns
    with a seeded draw so the copies are distinct rows.
    """
    rng = np.random.default_rng([seed, copies])
    os.makedirs(out_dir, exist_ok=True)
    for name in DIMENSIONS:
        os.link(os.path.join(src_dir, f"{name}.parquet"),
                os.path.join(out_dir, f"{name}.parquet"))
    orders = pq.read_table(os.path.join(src_dir, "orders.parquet"))
    lineitem = pq.read_table(os.path.join(src_dir, "lineitem.parquet"))
    step = pc.max(orders["o_orderkey"]).as_py() + 1
    o = pa.concat_tables([orders] * copies).combine_chunks()
    li = pa.concat_tables([lineitem] * copies).combine_chunks()
    o_off = step * np.repeat(np.arange(copies, dtype=np.int64), len(orders))
    l_off = step * np.repeat(np.arange(copies, dtype=np.int64), len(lineitem))
    o = _set(o, "o_orderkey", o["o_orderkey"].to_numpy() + o_off)
    o = _set(o, "o_totalprice", np.round(
        o["o_totalprice"].to_numpy() * rng.uniform(0.95, 1.05, len(o)), 2))
    li = _set(li, "l_orderkey", li["l_orderkey"].to_numpy() + l_off)
    qty = li["l_quantity"].to_numpy()
    li = _set(li, "l_quantity", (qty - 1 + rng.integers(0, 3, len(li))) % 50 + 1)
    li = _set(li, "l_extendedprice", np.round(
        li["l_extendedprice"].to_numpy() * rng.uniform(0.95, 1.05, len(li)), 2))
    pq.write_table(o, os.path.join(out_dir, "orders.parquet"))
    pq.write_table(li, os.path.join(out_dir, "lineitem.parquet"))
