"""Seeded benchmark inputs, cached on disk by (workload, seed, size).

Every generator takes the seed as an argument and returns the expected
results for its input next to the input itself, so each op's output can
be checked without re-deriving them:

* images: ``datagen.make_row`` over a seed-chosen id window, so the
  row-invariant rule's reference render still matches, with seeded,
  disjoint faults whose violation counts are closed-form.
* asset CSVs: three sources with seeded missing and extra rows,
  duplicate keys, conflicting cells, and case or whitespace noise in
  keys and values; ``oracle.source_diff`` gives the expected counts.
* corpus tables: ``documents`` with planted near-duplicates and an
  ``orders`` key range, the two tables the contract dedup queries read;
  the expected row hashes come from DuckDB running the queries' oracle
  SQL (only the op's queries up front, the rest when first checked).

Generation time is recorded (``generate_s``) but never timed as set-up.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import numpy as np

from harness import WORK

CACHE = WORK / "inputs"
KEEP_ENTRIES = 8


def cached(workload: str, seed: int, size: int, build) -> tuple[Path, dict]:
    """Return (dir, meta) of the cached input, building it if absent.

    ``build(dir) -> meta`` writes the input files; ``meta.json`` is
    written last, so a half-built entry is never reused.
    """
    d = CACHE / f"{workload}-s{seed}-n{size}"
    meta_path = d / "meta.json"
    if meta_path.exists():
        return d, json.loads(meta_path.read_text())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    t0 = time.perf_counter()
    meta = build(d)
    meta["generate_s"] = time.perf_counter() - t0
    meta_path.write_text(json.dumps(meta))
    _evict()
    return d, meta


def _evict() -> None:
    entries = sorted(
        (p for p in CACHE.iterdir() if (p / "meta.json").exists()),
        key=lambda p: (p / "meta.json").stat().st_mtime,
    )
    for p in entries[:-KEEP_ENTRIES]:
        shutil.rmtree(p, ignore_errors=True)


# ---------------------------------------------------------------- images


def image_faults(rng: np.random.Generator, n: int) -> dict[str, list[int]]:
    """Disjoint seeded row positions for each fault kind."""
    counts = {
        "dup": int(rng.integers(2, 7)),
        "bad_pixel": int(rng.integers(3, 9)),
        "null_dim": int(rng.integers(2, 6)),
        "bad_caption": int(rng.integers(2, 6)),
        "drop": int(rng.integers(3, 9)),
        "mutate": int(rng.integers(2, 6)),
    }
    pos = rng.permutation(n)[: sum(counts.values())].tolist()
    out, k = {}, 0
    for name, c in counts.items():
        out[name] = sorted(pos[k : k + c])
        k += c
    out["alien"] = list(range(int(rng.integers(1, 5))))
    return out


def expected_violations(f: dict[str, list[int]]) -> dict[str, int]:
    """Closed-form violation count per rule for disjoint faults."""
    return {
        "schema": 2 * len(f["null_dim"]),  # w and h are non-nullable
        "uniqueness(image_id)": len(f["dup"]),
        "uniqueness(phash)": len(f["dup"]),  # a duplicate row repeats its phash
        "referential": len(f["drop"]) + len(f["alien"]),
        "row_invariant": len(f["bad_pixel"]) + len(f["bad_caption"]),
        "stats": 0,
        "drift(fmt)": 0,
    }


def build_images(d: Path, seed: int, n: int, tag: int) -> dict:
    """images/ and captions/ parquet over ids [base, base + n)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from assetdatavalidationtool_spark.datagen import make_row, row_params

    rng = np.random.default_rng([seed, tag])
    base = int(rng.integers(0, 10**9))
    f = image_faults(rng, n)
    sets = {k: set(v) for k, v in f.items()}
    rows = []
    for j in range(n):
        r = make_row(base + j, corrupt_pixels=j in sets["bad_pixel"])
        if j in sets["null_dim"]:
            r["w"] = r["h"] = None
        if j in sets["bad_caption"]:
            r["caption"] += " [edited]"
        rows.append(r)
    rows += [dict(rows[j]) for j in f["dup"]]
    caps = []
    for j in range(n):
        if j in sets["drop"]:
            continue
        c = row_params(base + j)["caption"]
        caps.append((f"img_{base + j:012d}", c + " [mutated]" if j in sets["mutate"] else c))
    caps += [(f"alien_{seed}_{k:06d}", f"alien caption {k}") for k in f["alien"]]

    schema = pa.schema([
        pa.field("image_id", pa.string(), False), ("bytes", pa.binary()),
        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
        ("caption", pa.string()), ("phash", pa.int64()),
    ])
    img = pa.Table.from_pylist(rows, schema=schema)
    files = 8  # a few files per core so the scan splits across tasks
    (d / "images").mkdir()
    step = -(-img.num_rows // files)
    for k in range(files):
        pq.write_table(img.slice(k * step, step), d / "images" / f"part-{k:03d}.parquet")
    cap = pa.table(
        {"image_id": [c[0] for c in caps], "caption": [c[1] for c in caps]},
        schema=pa.schema([pa.field("image_id", pa.string(), False), ("caption", pa.string())]),
    )
    (d / "captions").mkdir()
    pq.write_table(cap, d / "captions" / "part-000.parquet")
    return {
        "n_images": img.num_rows,
        "faults": {k: len(v) for k, v in f.items()},
        "violations": expected_violations(f),
        "sample_ids": [rows[j]["image_id"] for j in range(0, n, max(1, n // 64))][:64],
    }


def build_bucketed(spark, d: Path, buckets: int) -> None:
    """Bucket-partitioned copies of images/ and captions/ (the layout
    ``sources/bucketed.py`` writes): one directory per bucket."""
    from pyspark.sql import functions as F

    bkt = F.pmod(F.xxhash64(F.col("image_id")), F.lit(buckets)).cast("int")
    for side in ("images", "captions"):
        spark.read.parquet(str(d / side)).withColumn("bucket", bkt).repartition(
            buckets, "bucket"
        ).write.partitionBy("bucket").parquet(str(d / f"{side}_b{buckets}"))


# ------------------------------------------------------------ asset CSVs

SOURCE_NAMES = ("Baseline", "CMDB", "Discovery")
COLUMNS = ("Asset Tag", "Hostname", "IP Address", "Serial Number", "Owner", "Location")
# Discovery names one column differently, so the deltas mapping must be
# inferred from values rather than headers
DISCOVERY_RENAME = {"Hostname": "Host Name"}


def _asset(i: int, rng: np.random.Generator) -> dict[str, str]:
    return {
        "Asset Tag": f"AT-{i:07d}",
        "Hostname": f"host-{i:07d}.corp",
        "IP Address": f"10.{(i >> 16) & 255}.{(i >> 8) & 255}.{i & 255}",
        "Serial Number": f"SN{int(rng.integers(0, 10**9)):09d}",
        "Owner": f"owner-{int(rng.integers(0, 400)):03d}",
        "Location": f"site-{int(rng.integers(0, 12)):02d}",
    }


def _noisy_key(k: str, rng: np.random.Generator) -> str:
    r = rng.random()
    if r < 0.15:
        return f"  {k.lower()} "
    if r < 0.3:
        return k.lower()
    return k


def build_assets(d: Path, seed: int, n: int) -> dict:
    """Three asset CSVs over a universe of n assets; the expected counts
    come from the plain-Python oracle over the rows as written."""
    import oracle

    rng = np.random.default_rng([seed, 3])
    universe = [_asset(i, rng) for i in range(n)]
    sources: dict[str, list[dict[str, str]]] = {}
    for s, name in enumerate(SOURCE_NAMES):
        keep = rng.random(n) >= (0.02 if s == 0 else 0.05)  # missing rows
        rows = []
        for i in np.flatnonzero(keep):
            row = dict(universe[i])
            row["Asset Tag"] = _noisy_key(row["Asset Tag"], rng)
            if s and rng.random() < 0.04:  # conflicting cell
                col = COLUMNS[1 + int(rng.integers(0, len(COLUMNS) - 1))]
                row[col] = f"{row[col]}-x{s}"
            if s and rng.random() < 0.05:  # case/whitespace-only difference
                row["Owner"] = f" {row['Owner'].upper()}"
            if s == 2 and rng.random() < 0.03:  # blank cell
                row["Location"] = ""
            rows.append(row)
        extra = int(n * 0.01) + 1  # assets only this source knows
        rows += [_asset(n * (s + 2) + k, rng) for k in range(extra)]
        dup_of = rng.choice(len(rows), size=max(2, n // 200), replace=False)
        for k in dup_of:  # later duplicate key with other values: first row wins
            row = dict(rows[k])
            row["Owner"] = "owner-dup"
            rows.append(row)
        order = rng.permutation(len(rows) - len(dup_of))
        rows = [rows[k] for k in order] + rows[len(order) :]
        sources[name] = rows
        cols = [DISCOVERY_RENAME.get(c, c) if name == "Discovery" else c for c in COLUMNS]
        with open(d / f"{name}.csv", "w") as f:
            f.write(",".join(cols) + "\n")
            for row in rows:
                f.write(",".join(row[c] for c in COLUMNS) + "\n")
    renamed = {
        name: [
            {(DISCOVERY_RENAME.get(c, c) if name == "Discovery" else c): r[c] for c in COLUMNS}
            for r in rows
        ]
        for name, rows in sources.items()
    }
    return {
        "rows": sum(len(r) for r in sources.values()),
        "expected": oracle.source_diff(renamed, "Asset Tag"),
    }


# --------------------------------------------------------- corpus tables

WORDS = (
    "agg row scan slow fast table value part hash merge batch spark line sort "
    "window key data column join small query big customer order filter group "
    "stream vector the a of and to in is that for it with as on"
).split()
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
DEDUP_QUERIES = (
    "dedup_clusters", "dedup_canonical", "image_phash_clusters",
    "image_phash_canonical", "image_curation_pipeline", "corpus_dedup_pipeline",
)


def duckdb_hashes(d: Path, queries) -> dict[str, str]:
    """Row hash of each contract query's oracle SQL run by DuckDB on the
    corpus tables in d."""
    import duckdb

    import oracle
    from assetdatavalidationtool_spark.contract import QUERIES

    con = duckdb.connect()
    try:
        for t in ("documents", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d / t}.parquet'")
        return {q: oracle.row_hash(con.execute(QUERIES[q].sql).df()) for q in queries}
    finally:
        con.close()


def build_corpus(d: Path, seed: int, n_docs: int, n_orders: int, queries) -> dict:
    """documents.parquet with planted near-duplicates and orders.parquet
    over a seed-chosen key range; expected row hashes of the given
    queries from DuckDB (the others are computed when first needed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    texts = []
    for i in range(n_docs):
        if i >= 8 and rng.random() < 0.08:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for k in rng.choice(len(words), size=max(1, len(words) // 25), replace=False):
                words[k] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, size=int(rng.integers(20, 90)))))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(rng.integers(0, len(LANGS)))] for _ in range(n_docs)],
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    off = int(rng.integers(0, 10**6))
    keys = np.arange(off, off + n_orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": keys,
        "o_custkey": keys % 1000,
        "o_orderstatus": ["O"] * n_orders,
        "o_totalprice": (keys % 9973).astype(np.float64),
        "o_orderdate": pa.array(
            (np.datetime64("1995-01-01") + (keys % 2000)).astype("datetime64[us]")
        ),
        "o_orderpriority": ["1-URGENT"] * n_orders,
    })
    pq.write_table(docs, d / "documents.parquet")
    pq.write_table(orders, d / "orders.parquet")
    return {"rows": {"documents": n_docs, "orders": n_orders},
            "expected": duckdb_hashes(d, queries)}
