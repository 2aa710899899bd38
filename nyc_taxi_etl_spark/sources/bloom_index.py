"""Bloom-filter file index for :class:`VersionedTable` — equality-
predicate data skipping where min/max bounds can't help.

Footer min/max stats (``VersionedTable.read_where``) prune RANGE
predicates, but on a high-cardinality unclustered column (doc_id,
user_id, fingerprint) every file's [min,max] spans the whole domain
and nothing skips. The lakehouse answer (Delta's bloom-filter index)
is a per-file Bloom filter: a point lookup consults the tiny bitmap
sidecars and opens only files that MIGHT contain the key — false
positives cost a redundant file read, false negatives cannot happen,
so pruned-read ≡ full-scan-filter always.

Design:
  * The filter is BUILT BY SPARK, not the driver: bit positions are
    Kirsch-Mitzenmacher double hashing (pos_i = h1 + i·h2 mod m, one
    ``xxhash64`` pair per row — same trick the MinHash stage uses),
    OR-folded into bytes with a (file, byte_index) hash-agg; the
    driver only assembles the final ≤m/8-byte bitmap per file. The
    collect is bounded by bitmap size (~1.2 MB per 10⁶-row file at
    1% fpp), never by row count.
  * Sidecars live under ``<root>/_index/`` keyed by the immutable
    data-directory uuid + column, so appends/compactions never
    invalidate existing entries (a directory's contents never change);
    unindexed directories are simply kept on probe (conservative).
  * Probing hashes the literal with the SAME JVM xxhash64 via a 1-row
    job — metadata-scale, and immune to Python/JVM hash divergence.
"""

from __future__ import annotations

import base64
import json
import math
import os

from pyspark.sql import functions as F

_INDEX_DIR = "_index"


def _params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for ``n`` keys at ``fpp``; m rounded
    up to whole bytes."""
    n = max(n, 1)
    m = max(64, math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(math.log(2) * m / n))
    return m, k


def _index_path(root: str, rel_dir: str, col: str) -> str:
    return os.path.join(
        root, _INDEX_DIR, f"{os.path.basename(rel_dir)}.{col}.json"
    )


def build_bloom_index(table, col: str, fpp: float = 0.01) -> int:
    """Index ``col`` for every active data directory of the latest
    snapshot that isn't indexed yet. Returns the number of files
    newly indexed. Safe to re-run (idempotent per directory)."""
    spark = table.spark
    _, rec = table.snapshot()
    os.makedirs(os.path.join(table.root, _INDEX_DIR), exist_ok=True)
    indexed = 0
    for rel_dir in rec["active"]:
        out = _index_path(table.root, rel_dir, col)
        if os.path.exists(out):
            continue
        src = (
            table._scan(rec, [rel_dir])
            .select(
                F.input_file_name().alias("f"), F.col(col).alias("v")
            )
            .filter(F.col("v").isNotNull())
        )
        counts = {r.f: r.n for r in src.groupBy("f").agg(F.count("*").alias("n")).collect()}
        if not counts:
            with open(out, "w") as fh:
                json.dump({}, fh)
            continue
        params = {f: _params(n, fpp) for f, n in counts.items()}
        pdf = spark.createDataFrame(
            [(f, m, k) for f, (m, k) in params.items()], ["f", "m", "k"]
        )
        h = src.join(F.broadcast(pdf), "f").select(
            "f",
            "m",
            F.xxhash64("v").alias("h1"),
            F.xxhash64("v", F.lit(1)).alias("h2"),
            F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("i"),
        )
        # reduce h1/h2 mod m BEFORE combining: h1 + i*h2 on raw 64-bit
        # hashes overflows long arithmetic, which wraps differently
        # from the arbitrary-precision Python probe — reduced operands
        # keep both sides exactly congruent (and overflow-free)
        bits = h.select(
            "f",
            F.pmod(
                F.pmod("h1", F.col("m"))
                + F.col("i") * F.pmod("h2", F.col("m")),
                F.col("m"),
            ).alias("pos"),
        )
        packed = (
            bits.select(
                "f",
                (F.col("pos") / 8).cast("long").alias("byte_idx"),
                # shiftleft() in the Python API only takes a literal
                # shift count; the SQL form accepts a column
                F.expr("CAST(shiftleft(1, CAST(pos % 8 AS INT)) AS BIGINT)")
                .alias("mask"),
            )
            .groupBy("f", "byte_idx")
            .agg(F.bit_or("mask").alias("b"))
        )
        per_file: dict[str, dict[int, int]] = {}
        for r in packed.collect():
            per_file.setdefault(r.f, {})[int(r.byte_idx)] = int(r.b)
        record = {}
        for f, (m, k) in params.items():
            buf = bytearray(m // 8)
            for bi, bv in per_file.get(f, {}).items():
                buf[bi] = bv
            # key sidecar entries by basename: immutable within the dir
            record[os.path.basename(f)] = {
                "m": m,
                "k": k,
                "bits": base64.b64encode(bytes(buf)).decode(),
            }
            indexed += 1
        tmp = out + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, out)
    return indexed


def _probe_hashes(spark, rec: dict, col: str, value) -> tuple[int, int]:
    """JVM xxhash64 of the probe literal, cast to the column type the
    commit ``rec`` records, so it hashes bit-identically to the stored
    rows."""
    dtype = dict(map(tuple, rec.get("schema") or [])).get(col)
    lit = F.lit(value).cast(dtype) if dtype else F.lit(value)
    row = spark.range(1).select(
        F.xxhash64(lit).alias("h1"), F.xxhash64(lit, F.lit(1)).alias("h2")
    ).first()
    return row.h1, row.h2


def _prune(table, rec: dict, col: str, value) -> tuple[list[str], list[str]]:
    h1, h2 = _probe_hashes(table.spark, rec, col, value)
    kept, skipped = [], []
    for rel_dir in rec["active"]:
        idx_path = _index_path(table.root, rel_dir, col)
        idx = None
        if os.path.exists(idx_path):
            with open(idx_path) as fh:
                idx = json.load(fh)
        absdir = os.path.join(table.root, rel_dir)
        for name in sorted(os.listdir(absdir)):
            if not name.endswith(".parquet"):
                continue
            rel_f = os.path.join(rel_dir, name)
            ent = None if idx is None else idx.get(name)
            if ent is None:
                kept.append(rel_f)  # unindexed: conservative
                continue
            m, k = ent["m"], ent["k"]
            buf = base64.b64decode(ent["bits"])
            maybe = True
            for i in range(k):
                pos = ((h1 % m) + i * (h2 % m)) % m
                if not (buf[pos >> 3] >> (pos & 7)) & 1:
                    maybe = False
                    break
            (kept if maybe else skipped).append(rel_f)
    return kept, skipped


def bloom_prune(
    table, col: str, value
) -> tuple[list[str], list[str]]:
    """Partition the latest snapshot's files into (kept, skipped) for
    an equality probe on ``col`` using only the bloom sidecars. Files
    in unindexed directories are always kept (conservative)."""
    return _prune(table, table.snapshot()[1], col, value)


def read_eq(table, col: str, value):
    """Point-lookup read: bloom-prune the file set, then apply the
    exact equality filter to survivors — result ≡
    ``table.read().filter(col == value)`` (bloom has no false
    negatives; false positives only cost a redundant file scan)."""
    _, rec = table.snapshot()
    kept, _ = _prune(table, rec, col, value)
    return table._scan(rec, kept).filter(F.col(col) == F.lit(value))
