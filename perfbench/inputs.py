"""Seeded benchmark inputs, written once per (workload, seed, size) and
proven identical by a content digest.

The tables reuse the shapes and generator functions of
``scripts/gen_scaledata.py`` (TPC-H-ish star schema, events, uniform-vocab
documents, unit-norm embeddings) and ``scripts/gen_zipfdocs.py`` (Zipf
documents with a boilerplate header and planted near-dups). The headline
tables keep gen_scaledata's fixed seed, as the repository's sf testdata
does; the incremental-load tables and batches are driven by the benchmark
seed. The program under test only ever sees the generated parquet files.

``prepare`` regenerates the inputs into a scratch directory, digests every
file, and either installs them as the cache entry or checks them against
the cached digest; a mismatch means generation is not deterministic and
the run fails. The digest goes into the benchmark output, so two commits
can be shown to have been measured on identical bytes.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import gen_scaledata as GS  # noqa: E402
import gen_zipfdocs as GZ  # noqa: E402

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Sizes per workload. "full" is what the benchmark measures; "tiny" is the
# self-test scale. The README's calibration section has the pass times
# these sizes give on 4 cores.
SIZES = {
    "headline-sf0.01": {
        "full": {"sf": 0.01},
        "tiny": {"sf": 0.001},
    },
    "incremental-load": {
        "full": {"sf": 0.005, "rounds": 8, "ingest_docs": 200, "merge_frac": 0.05},
        "tiny": {"sf": 0.001, "rounds": 4, "ingest_docs": 50, "merge_frac": 0.05},
    },
}


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _zipf_docs(seed: int, n: int, outdir: str) -> pa.Table:
    """gen_zipfdocs.gen with the benchmark seed; returns the table."""
    saved = GZ.SEED
    GZ.SEED = seed
    try:
        with contextlib.redirect_stdout(sys.stderr):
            GZ.gen(n / 50_000, outdir)
    finally:
        GZ.SEED = saved
    return pq.read_table(os.path.join(outdir, "documents.parquet"))


def _dims(outdir: str) -> None:
    _write(os.path.join(outdir, "region.parquet"), pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }))
    _write(os.path.join(outdir, "nation.parquet"), pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))


def gen_headline(seed: int, outdir: str, sf: float) -> None:
    """The ten testdata tables at scale factor ``sf``, generated in
    gen_scaledata.generate's order with that script's fixed seed, so that,
    like the repository's sf testdata, they do not depend on the benchmark
    seed (which permutes query order instead). The fixed dims are written
    here rather than copied."""
    rng = np.random.default_rng(GS.SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    w = lambda name, t: _write(os.path.join(outdir, f"{name}.parquet"), t)  # noqa: E731
    _dims(outdir)
    w("customer", GS.gen_customer(rng, n_cust))
    w("supplier", GS.gen_supplier(rng, n_supp))
    w("part", GS.gen_part(rng, n_part))
    orders, days = GS.gen_orders(rng, int(1_500_000 * sf), n_cust)
    w("orders", orders)
    w("lineitem", GS.gen_lineitem(rng, days, n_part, n_supp))
    w("events", GS.gen_events(rng, int(1_000_000 * sf)))
    w("documents", GS.gen_documents(rng, int(50_000 * sf)))
    w("embeddings", GS.gen_embeddings(rng, int(20_000 * sf)))


def _month(ts: pa.Array) -> pa.Array:
    return pc.strftime(ts, format="%Y-%m")


def gen_incremental(
    seed: int, outdir: str, sf: float, rounds: int, ingest_docs: int, merge_frac: float
) -> None:
    """Base orders (with an ``o_month`` partition column) and lineitem,
    one merge batch and one Zipf ingest batch per round.

    Merge batch r re-prices ``merge_frac`` of the orders in the latest
    six months and inserts new orders in the latest month, with keys
    above every earlier key. Ingest batch r holds doc ids
    [r * ingest_docs, (r + 1) * ingest_docs) of one Zipf corpus, so ids
    arrive in increasing order and near-dups cross batch boundaries."""
    rng = np.random.default_rng(seed)
    n_orders = int(1_500_000 * sf)
    n_cust = max(15, int(150_000 * sf))
    orders, days = GS.gen_orders(rng, n_orders, n_cust)
    orders = orders.append_column("o_month", _month(orders["o_orderdate"]))
    _write(os.path.join(outdir, "orders.parquet"), orders)
    _write(
        os.path.join(outdir, "lineitem.parquet"),
        GS.gen_lineitem(rng, days, max(10, int(200_000 * sf)), max(10, int(10_000 * sf))),
    )
    months = sorted(set(orders["o_month"].to_pylist()))
    recent = pc.is_in(orders["o_month"], pa.array(months[-6:]))
    recent_keys = orders.filter(recent)["o_orderkey"].to_numpy()
    latest = np.datetime64(f"{months[-1]}-01")
    next_key = n_orders
    n_ins = max(2, int(len(recent_keys) * merge_frac) // 4)
    for r in range(rounds):
        upd_keys = np.sort(rng.choice(
            recent_keys, size=max(1, int(len(recent_keys) * merge_frac)), replace=False
        ))
        upd = orders.take(pa.array(upd_keys))
        upd = upd.set_column(
            upd.schema.get_field_index("o_totalprice"), "o_totalprice",
            pa.array(np.round(rng.uniform(1000, 500000, size=len(upd)), 2)),
        )
        ins_days = rng.integers(0, 28, size=n_ins).astype("timedelta64[D]")
        ins_dates = (latest + ins_days).astype("datetime64[us]")
        ins = pa.table({
            "o_orderkey": pa.array(np.arange(next_key, next_key + n_ins), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ins), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(GS.STATUSES, size=n_ins).tolist()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=n_ins), 2)),
            "o_orderdate": pa.array(ins_dates, pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(GS.PRIORITIES, size=n_ins).tolist()),
        })
        ins = ins.append_column("o_month", _month(ins["o_orderdate"]))
        next_key += n_ins
        _write(os.path.join(outdir, f"merge_{r:03d}.parquet"), pa.concat_tables([upd, ins]))
    docs = _zipf_docs(seed + 1, rounds * ingest_docs, outdir).select(["doc_id", "text"])
    os.remove(os.path.join(outdir, "documents.parquet"))
    for r in range(rounds):
        lo = r * ingest_docs
        _write(os.path.join(outdir, f"ingest_{r:03d}.parquet"), docs.slice(lo, ingest_docs))


GENERATORS = {
    "headline-sf0.01": gen_headline,
    "incremental-load": gen_incremental,
}


def digest(path: str) -> dict[str, str]:
    """sha256 of every file under ``path``, keyed by relative name."""
    out = {}
    for name in sorted(os.listdir(path)):
        h = hashlib.sha256()
        with open(os.path.join(path, name), "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
        out[name] = h.hexdigest()
    return out


def prepare(cache_root: str, workload: str, seed: int, scale: str, tag: str) -> tuple[str, dict]:
    """Generate the inputs afresh and install or verify the cache entry.

    Returns (input dir, digest). Raises if a regeneration does not
    reproduce the cached bytes."""
    size = SIZES[workload][scale]
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    final = os.path.join(cache_root, "inputs", f"{workload}-seed{seed}-{key}")
    scratch = f"{final}.tmp-{os.getpid()}-{tag}"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        GENERATORS[workload](seed, scratch, **size)
        got = digest(scratch)
        if not os.path.isdir(final):
            os.replace(scratch, final)
        elif digest(final) != got:
            raise RuntimeError(f"inputs for {workload} seed {seed} are not reproducible")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return final, got
