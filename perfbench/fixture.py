"""Benchmark inputs: the engine's sf0.01 test fixture and its 10x derivation.

The base fixture is a byte-for-byte copy of the engine's sf0.01 test
fixture (TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``; see FIXTURES.md and TESTDATA.md), kept under ``data/``
next to this file so that a run reads nothing outside its checkout.  It
is the input the differential tests check the engine on.  Every
benchmark seed reads the same base, so run-to-run differences come from
the engine, not from the data.

The 10x fixture is ten decorrelated shards of the base:

- ``lineitem`` and ``orders`` are key-shifted copies.  Both tables shift by
  ONE shared span, ``max(l_orderkey, o_orderkey) + 1``, so shard k's
  lineitems still join shard k's orders even when the two maxima differ.
- ``customer`` copies shift ``c_custkey`` (and the orders' ``o_custkey``)
  by a span rounded up to a multiple of 30, and map name digits onto a
  per-shard alphabet, so residue classes and blocking keys stay per shard.
- ``documents`` remap every token ``w`` to ``f"{w}k{k}"`` (a vocabulary
  bijection per shard), ``embeddings`` apply one random orthogonal
  rotation per shard, and ``events`` move each shard to a disjoint
  user-id and event-id range.
- ``region``, ``nation``, ``supplier`` and ``part`` stay 1x.

The benchmark seed chooses the order in which the shards are laid out
and the rotations.  The 10x fixture is cached under the checkout, keyed
on the generator version, the seed and the base stamp.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GENERATOR_VERSION = 2
BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
N_SHARDS = 10
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
DIMENSIONS = ["region", "nation", "supplier", "part"]


def read_tables(fixture_dir: str) -> dict[str, pa.Table]:
    return {n: pq.read_table(os.path.join(fixture_dir, f"{n}.parquet")) for n in TABLES}


def _shift(tbl: pa.Table, col: str, by: int) -> pa.Table:
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, col, pc.add(tbl[col], pa.scalar(by, pa.int64())))


def _replace(tbl: pa.Table, col: str, values, typ=None) -> pa.Table:
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, col, pa.array(values, typ or tbl.schema.field(col).type))


def order_key_span(lineitem: pa.Table, orders: pa.Table) -> int:
    """One span for both order-key columns, so shifted shards still join."""
    return max(
        pc.max(lineitem["l_orderkey"]).as_py(),
        pc.max(orders["o_orderkey"]).as_py(),
    ) + 1


def scale10_tables(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Ten decorrelated shards of ``base``; ``seed`` picks shard order and
    the embedding rotations."""
    rng = np.random.default_rng(seed)
    order = [int(k) for k in rng.permutation(N_SHARDS)]
    docs, emb = base["documents"], base["embeddings"]
    mat = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    dim = mat.shape[1]
    rotations = [np.linalg.qr(rng.standard_normal((dim, dim)))[0] for _ in order]
    key_span = order_key_span(base["lineitem"], base["orders"])
    cust_span = (pc.max(base["customer"]["c_custkey"]).as_py() // 30 + 1) * 30
    ev = base["events"]
    user_span = pc.max(ev["user_id"]).as_py() + 1
    event_span = pc.max(ev["event_id"]).as_py() + 1
    doc_words = [x.split(" ") for x in docs["text"].to_pylist()]
    shards: dict[str, list[pa.Table]] = {t: [] for t in TABLES if t not in DIMENSIONS}
    for k in order:
        line = _shift(base["lineitem"], "l_orderkey", key_span * k)
        orders = _shift(base["orders"], "o_orderkey", key_span * k)
        orders = _shift(orders, "o_custkey", cust_span * k)
        cust = _shift(base["customer"], "c_custkey", cust_span * k)
        if k:
            digits = str.maketrans(
                {str(d): chr(0x100 + (k - 1) * 10 + d) for d in range(10)}
            )
            cust = _replace(
                cust, "c_name", [x.translate(digits) for x in cust["c_name"].to_pylist()]
            )
        events = _shift(_shift(ev, "user_id", user_span * k), "event_id", event_span * k)
        d = _shift(docs, "doc_id", docs.num_rows * k)
        e = _shift(emb, "vec_id", emb.num_rows * k)
        if k:
            texts = [" ".join(f"{w}k{k}" for w in ws) for ws in doc_words]
            d = _replace(d, "text", texts)
            d = _replace(d, "n_chars", [len(x) for x in texts])
            rot = (mat @ rotations[k]).astype(np.float32)
            e = _replace(e, "embedding", list(rot), pa.list_(pa.float32()))
        for name, tbl in (("lineitem", line), ("orders", orders), ("customer", cust),
                          ("events", events), ("documents", d), ("embeddings", e)):
            shards[name].append(tbl)
    out = {name: base[name] for name in DIMENSIONS}
    out.update({name: pa.concat_tables(parts) for name, parts in shards.items()})
    if "events" in out:  # event time stays ordered, like the base stream
        out["events"] = out["events"].sort_by("ts")
    return out


def write_tables(tables: dict[str, pa.Table], out: str) -> dict[str, dict[str, int]]:
    """Write one single-row-group parquet per table; returns rows and bytes."""
    os.makedirs(out, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def base_stamp(fixture_dir: str = BASE_DIR) -> str:
    """Stamp of a fixture directory: the engine's own freshness stamp
    (``io.source_stamp``, mtime and size) of every table, hashed."""
    from eclypsium_etl_spark.io import source_stamp

    parts = [source_stamp(os.path.join(fixture_dir, f"{n}.parquet")) for n in TABLES]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def stamp(fixture_dir: str) -> str:
    """Stamp of a fixture: the base's own, or the one in a derived
    fixture's manifest."""
    manifest = os.path.join(fixture_dir, "MANIFEST.json")
    if not os.path.exists(manifest):
        return base_stamp(fixture_dir)
    with open(manifest) as f:
        return json.load(f)["stamp"]


def table_sizes(fixture_dir: str) -> dict[str, dict[str, int]]:
    """Rows and bytes of every table of a fixture."""
    return {
        n: {"rows": pq.ParquetFile(path).metadata.num_rows, "bytes": os.path.getsize(path)}
        for n in TABLES
        for path in [os.path.join(fixture_dir, f"{n}.parquet")]
    }


def ensure(cache_root: str, kind: str, seed: int) -> str:
    """Return the fixture directory for ``kind``: ``base`` is the
    committed sf0.01 fixture; ``scale10`` is built from it once per seed
    and base stamp.  A finished 10x fixture carries MANIFEST.json, written
    last, with per-table rows and bytes."""
    if kind == "base":
        return BASE_DIR
    if kind != "scale10":
        raise ValueError(f"unknown fixture kind: {kind}")
    base = base_stamp()
    out = os.path.join(cache_root, f"scale10-v{GENERATOR_VERSION}-s{seed}-{base}")
    if not os.path.exists(os.path.join(out, "MANIFEST.json")):
        tmp = f"{out}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        sizes = write_tables(scale10_tables(read_tables(BASE_DIR), seed), tmp)
        info = {"kind": "scale10", "seed": seed, "base": base}
        digest = hashlib.sha256(
            json.dumps([info, sizes], sort_keys=True).encode()
        ).hexdigest()[:16]
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump({**info, "stamp": digest, "tables": sizes}, f, indent=1)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out
