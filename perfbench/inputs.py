"""Seeded benchmark inputs derived from the repository's fixture tables.

Every input a workload reads is a pure function of ``(workload, seed)``: the
fixture parquet files are read-only, and the generated directory holds the
ten tables ``ssis_to_dbt_spark.sources.readers.testdata`` registers plus, for
``index_serving``, the seeded probe requests.  Generation uses pyarrow only
(no Spark), so it stays out of the benchmark's set-up time, and its result
is cached per seed under the checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Which fixture scale feeds each workload's tables.  The ETL tables come
# from sf0.01 and are replicated 2x (120k lineitem rows): at sf0.1 one warm
# pass takes ~15 s on 4 cores, too long for several timed passes per run.
# Serving reads the sf0.1 corpus (5000 documents, 2000 embeddings); tables
# it never touches come from the smallest fixture, present only because
# testdata() registers and footer-checks all ten.
SOURCES = {
    "etl_warehouse": {"default": "sf0.01"},
    "index_serving": {
        "default": "sf0.001", "documents": "sf0.1", "embeddings": "sf0.1",
    },
}
ETL_REPLICAS = 2
SHUFFLED = {
    "etl_warehouse": ("orders", "lineitem"),
    "index_serving": ("documents", "embeddings"),
}

# index_serving request pools: the client cycles through them in order.
N_REQUESTS = 64
IVF_QUERIES_PER_REQUEST = 16
BM25_BAGS_PER_REQUEST = 4
BM25_MIN_DF = 10  # every bag term occurs in >= this many base documents


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), zlib.crc32(workload.encode())])


def _shuffle(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _replicate_orders(
    orders: pa.Table, lineitem: pa.Table, rng: np.random.Generator
) -> tuple[pa.Table, pa.Table]:
    """``ETL_REPLICAS`` copies of orders/lineitem, copy r shifting every
    order key by a seeded offset.  Offsets grow by more than the key span,
    so keys stay unique and each lineitem still joins its own order."""
    keys = orders.column("o_orderkey")
    span = pc.max(keys).as_py() - pc.min(keys).as_py() + 1
    offsets, off = [], int(rng.integers(0, span))
    for _ in range(ETL_REPLICAS):
        offsets.append(off)
        off += span + int(rng.integers(0, span))

    def shifted(t: pa.Table, col: str, by: int) -> pa.Table:
        i = t.schema.get_field_index(col)
        return t.set_column(i, t.schema.field(i), pc.add(t.column(i), by))

    o = pa.concat_tables([shifted(orders, "o_orderkey", d) for d in offsets])
    li = pa.concat_tables(
        [shifted(lineitem, "l_orderkey", d) for d in offsets]
    )
    return o, li


def _serving_requests(
    documents: pa.Table, embeddings: pa.Table, rng: np.random.Generator
) -> dict:
    """Seeded probe pools over the base corpus (ids % 7 != 0).

    IVF: each query vector is a random base vector plus Gaussian noise, so
    probes land in populated cells without repeating a stored vector.
    BM25: each bag holds 2-4 whitespace tokens (the engine's tokenizer)
    that occur in at least ``BM25_MIN_DF`` base documents, so every bag
    has a full top-10."""
    base_vecs = [
        v for i, v in zip(
            embeddings.column("vec_id").to_pylist(),
            embeddings.column("embedding").to_pylist(),
        ) if i % 7 != 0
    ]
    mat = np.asarray(base_vecs, dtype=np.float64)
    noise = 0.1 * float(mat.std())
    ivf = []
    for r in range(N_REQUESTS):
        picks = rng.integers(0, len(mat), IVF_QUERIES_PER_REQUEST)
        vecs = mat[picks] + rng.normal(0.0, noise, (len(picks), mat.shape[1]))
        ivf.append([
            [r * IVF_QUERIES_PER_REQUEST + j,
             [float(x) for x in vecs[j].astype(np.float32)]]
            for j in range(len(picks))
        ])
    df: dict[str, int] = {}
    for i, text in zip(
        documents.column("doc_id").to_pylist(),
        documents.column("text").to_pylist(),
    ):
        if i % 7 != 0:
            for term in set(text.lower().split()):
                df[term] = df.get(term, 0) + 1
    vocab = sorted(t for t, n in df.items() if n >= BM25_MIN_DF)
    bm25 = []
    for r in range(N_REQUESTS):
        bags = {}
        for j in range(BM25_BAGS_PER_REQUEST):
            n_terms = int(rng.integers(2, 5))
            terms = rng.choice(len(vocab), n_terms, replace=False)
            bags[f"r{r}q{j}"] = sorted(vocab[t] for t in terms)
        bm25.append(bags)
    return {"ivf": ivf, "bm25": bm25}


def _build(workload: str, seed: int, fixture_root: str, out: str) -> None:
    rng = rng_for(workload, seed)
    src = SOURCES[workload]

    def fixture(name: str) -> str:
        sf = src.get(name, src["default"])
        return os.path.join(fixture_root, sf, f"{name}.parquet")

    os.makedirs(out)
    shuffled = SHUFFLED[workload]
    for name in TABLES:
        if name not in shuffled:
            shutil.copyfile(fixture(name), os.path.join(out, f"{name}.parquet"))
    tables = {name: pq.read_table(fixture(name)) for name in shuffled}
    if workload == "etl_warehouse":
        tables["orders"], tables["lineitem"] = _replicate_orders(
            tables["orders"], tables["lineitem"], rng
        )
    for name in shuffled:
        tables[name] = _shuffle(tables[name], rng)
        pq.write_table(tables[name], os.path.join(out, f"{name}.parquet"))
    if workload == "index_serving":
        reqs = _serving_requests(
            tables["documents"], tables["embeddings"], rng
        )
        with open(os.path.join(out, "requests.json"), "w") as f:
            json.dump(reqs, f)


def digest(path: str) -> str:
    """sha256 over the generated files' names and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name == "DIGEST":
            continue
        h.update(name.encode() + b"\0")
        with open(os.path.join(path, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def generate(
    workload: str, seed: int, fixture_root: str, cache_root: str
) -> tuple[str, str]:
    """Return ``(input_dir, digest)`` for this workload and seed, building
    the directory on first use.  A finished directory carries a DIGEST
    file; one without it is a partial build and is rebuilt."""
    if workload not in SOURCES:
        raise ValueError(f"unknown workload {workload!r}")
    final = os.path.join(cache_root, f"{workload}-{int(seed)}")
    marker = os.path.join(final, "DIGEST")
    if os.path.exists(marker):
        with open(marker) as f:
            return final, f.read().strip()
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _build(workload, seed, fixture_root, tmp)
    d = digest(tmp)
    with open(os.path.join(tmp, "DIGEST"), "w") as f:
        f.write(d + "\n")
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, d


if __name__ == "__main__":
    # python3 perfbench/inputs.py <workload> <seed> <fixture_root> <cache_root>
    wl, seed, fixture_root, cache_root = sys.argv[1:]
    print(json.dumps(generate(wl, int(seed), fixture_root, cache_root)))
