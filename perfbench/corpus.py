"""Seeded corpus generation for the benchmark workloads.

Content is a pure function of a global row index
(``datatrove_spark.corpus.row_for_index`` / ``make_content``), so a seed only
has to move the index window: row ``j`` of seed ``s`` is global row
``s * SEED_STRIDE + j``.  The same seed therefore always yields the same
files, whatever the number of generator processes.

Generation runs before any Spark session exists and is never timed.  It
uses a small ``spawn`` pool that writes one parquet file per contiguous row
range, so the benchmark reads a multi-file corpus the way production does.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os

import pyarrow as pa
import pyarrow.parquet as pq

SEED_STRIDE = 10_000_000

CODE_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)
DUP_SCHEMA = pa.schema([("doc_id", pa.int64()), ("repo", pa.string()), ("content", pa.string())])

# near_dup plants this share of exact copies and of near copies
EXACT_COPY_PCT = 8
NEAR_COPY_PCT = 8
PLANTED = "_planted.json"  # sidecar (not parquet: Spark skips _-prefixed files)


def _h(j: int, tag: str, mod: int) -> int:
    digest = hashlib.blake2b(f"bench:{tag}:{j}".encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big") % mod


def _n_repos(n_rows: int) -> int:
    return max(n_rows // 50, 10)


def copy_kind(seed: int, j: int) -> str | None:
    """'exact', 'near' or None for row ``j`` of a near_dup corpus.  Row 0 is
    never a copy, so every copy has an earlier source."""
    if j == 0:
        return None
    r = _h(seed * SEED_STRIDE + j, "copy", 100)
    if r < EXACT_COPY_PCT:
        return "exact"
    if r < EXACT_COPY_PCT + NEAR_COPY_PCT:
        return "near"
    return None


def copy_source(seed: int, j: int, kind: str) -> int:
    """The earlier, non-copy row that row ``j`` copies.  Near copies only copy
    ``clean`` rows: a one-line edit of a ~200-word document keeps its word
    5-gram Jaccard near 0.97, far above the LSH band threshold."""
    from datatrove_spark.corpus import make_content

    base = seed * SEED_STRIDE
    for src in range(_h(base + j, "src", j), 0, -1):
        if copy_kind(seed, src) is None and (
            kind == "exact" or make_content(base + src)[0] == "clean"
        ):
            return src
    return 0


def _code_rows(seed: int, lo: int, hi: int, n_rows: int) -> tuple[pa.Table, list]:
    from datatrove_spark.corpus import row_for_index

    base = seed * SEED_STRIDE
    rows = [row_for_index(base + j, _n_repos(n_rows)) for j in range(lo, hi)]
    return pa.Table.from_pylist(rows, schema=CODE_SCHEMA), []


def _dup_rows(seed: int, lo: int, hi: int, n_rows: int) -> tuple[pa.Table, list]:
    from datatrove_spark.corpus import make_content, row_for_index

    base = seed * SEED_STRIDE
    out, planted = [], []
    for j in range(lo, hi):
        row = row_for_index(base + j, _n_repos(n_rows))
        kind = copy_kind(seed, j)
        if kind is not None:
            src = copy_source(seed, j, kind)
            content = make_content(base + src)[1]
            row["content"] = content if kind == "exact" else content + f"\nRevision note {j} for this file."
            planted.append((kind, j, src))
        out.append({"doc_id": j, "repo": row["repo"], "content": row["content"]})
    return pa.Table.from_pylist(out, schema=DUP_SCHEMA), planted


def _write_part(args: tuple) -> list:
    kind, seed, lo, hi, n_rows, path = args
    table, planted = (_code_rows if kind == "code" else _dup_rows)(seed, lo, hi, n_rows)
    pq.write_table(table, path)
    return planted


def generate(kind: str, seed: int, n_rows: int, n_files: int, out_dir: str, procs: int) -> str:
    """Write ``n_files`` parquet files of a ``kind`` ('code' or 'dup') corpus
    into ``out_dir``; returns ``out_dir``.  A finished corpus is reused."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    bounds = [n_rows * k // n_files for k in range(n_files + 1)]
    tasks = [
        (kind, seed, bounds[k], bounds[k + 1], n_rows, os.path.join(out_dir, f"part-{k:05d}.parquet"))
        for k in range(n_files)
    ]
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        planted = [p for part in pool.map(_write_part, tasks) for p in part]
    finally:
        pool.close()
        pool.join()
    with open(os.path.join(out_dir, PLANTED), "w") as f:
        json.dump(planted, f)
    with open(marker, "w") as f:
        json.dump({"kind": kind, "seed": seed, "rows": n_rows, "files": n_files}, f)
    return out_dir


def planted_copies(corpus_dir: str) -> dict[str, list[tuple[int, int]]]:
    """(copy doc_id, source doc_id) pairs a near_dup corpus planted, by kind."""
    out: dict[str, list[tuple[int, int]]] = {"exact": [], "near": []}
    with open(os.path.join(corpus_dir, PLANTED)) as f:
        for kind, j, src in json.load(f):
            out[kind].append((j, src))
    return out
