"""Mergeable quantile sketch (deterministic MRL-style collapse summary).

Completes the repo's mergeable-sketch family (count-min, HLL, bitmap,
Bloom all have batch + streaming-merge twins): a bounded-size summary of
a value distribution whose MERGE is the same operation as its build, so
per-partition / per-shard / per-micro-batch sketches combine into the
corpus sketch without revisiting data — the property that makes
percentile monitoring possible over a 100 TB corpus or an unbounded
stream.

Algorithm: the classic deterministic collapse summary (Munro-Paterson
1980; Manku-Rajagopalan-Lindsay, SIGMOD 1998; mergeability per Agarwal
et al., PODS 2012 — all public literature). A sketch is a multiset of
``(level, value)`` items where an item at level L stands for ``2**L``
original rows. Whenever a level holds more than ``k`` items, its sorted
buffer is collapsed pairwise: one survivor per adjacent pair is promoted
to level L+1 (the survivor offset alternates with level parity to cancel
rank bias), an odd leftover stays put. Every collapse preserves total
represented weight EXACTLY — ``sum(2**level) == n`` always, which is the
sketch's cross-engine audit (DuckDB pins COUNT(*), Spark pins the
sketch's weight). Rank error grows by at most ``2**L`` per collapse at
level L, giving the standard O(log²(n/k)/k) relative rank error —
fractions of a percent at k=256, gated at 0.05 with wide margin.

Scale shape (the reason this exists): build is one ``mapInPandas`` pass
— each input partition streams its batches into a local sketch in
O(k·log(n)) memory and emits at most ``k·levels`` rows; a two-stage
tree merge (fan-in ``fanout``, then 1) reduces per-partition sketches
without ever concentrating raw data. Nothing in the pipeline scales
with n except the partition-parallel first pass. The final sketch
(≤ k·levels ≈ a few thousand rows) is a bounded driver artifact, same
contract as the 256-cell count-min collect.

Determinism note: the sketch's INTERNAL items depend on how rows are
split across partitions (like any mergeable summary), but its two
graded facts do not — total weight is exactly n under every merge
order, and the rank-error bound holds for every split. Gate queries
therefore emit (n, weight_ok, rank_ok), never raw sketch internals.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-level buffer capacity: error ~ log²(n/k)/k, size ~ k·log(n/k)
MRL_K = 256

_SKETCH_SCHEMA = "level int, value double"


def mrl_compact(
    levels: dict[int, np.ndarray], k: int = MRL_K
) -> dict[int, np.ndarray]:
    """Canonically compact a level→values map so no level exceeds ``k``
    items. Deterministic given the item multiset: levels are processed
    bottom-up, buffers sorted, survivors chosen by level parity. Total
    represented weight sum(len(v)·2**level) is preserved exactly."""
    out = {
        lvl: np.sort(np.asarray(v, dtype=np.float64))
        for lvl, v in levels.items()
        if len(v)
    }
    while True:
        over = [lvl for lvl in sorted(out) if len(out[lvl]) > k]
        if not over:
            break
        lvl = over[0]
        vals = np.sort(out[lvl])
        m = len(vals) // 2
        off = lvl % 2  # survivor offset alternates to cancel rank bias
        promoted = vals[off : 2 * m : 2]
        leftover = vals[2 * m :]
        if len(leftover):
            out[lvl] = leftover
        else:
            del out[lvl]
        nxt = out.get(lvl + 1)
        out[lvl + 1] = (
            np.sort(np.concatenate([nxt, promoted]))
            if nxt is not None
            else promoted
        )
    return out


def mrl_insert(
    levels: dict[int, np.ndarray], values: np.ndarray, k: int = MRL_K
) -> dict[int, np.ndarray]:
    """Fold a batch of raw values (weight 1 each) into the sketch."""
    v0 = levels.get(0)
    fresh = np.asarray(values, dtype=np.float64)
    levels[0] = np.concatenate([v0, fresh]) if v0 is not None else fresh
    return mrl_compact(levels, k)


def mrl_merge(
    sketches: Iterable[dict[int, np.ndarray]], k: int = MRL_K
) -> dict[int, np.ndarray]:
    """Merge sketches: concatenate level-wise, recompact. The merge IS
    the build operation — associative, weight-preserving."""
    acc: dict[int, list[np.ndarray]] = {}
    for sk in sketches:
        for lvl, vals in sk.items():
            acc.setdefault(lvl, []).append(np.asarray(vals, dtype=np.float64))
    return mrl_compact(
        {lvl: np.concatenate(chunks) for lvl, chunks in acc.items()}, k
    )


def mrl_total_weight(levels: dict[int, np.ndarray]) -> int:
    """Exact number of original rows the sketch represents."""
    return sum(len(v) * (1 << lvl) for lvl, v in levels.items())


def mrl_quantiles(
    levels: dict[int, np.ndarray], probs: list[float]
) -> list[tuple[float, float]]:
    """Estimate quantiles: flatten to (value, weight), sort by value,
    return the first value whose cumulative weight reaches ceil(q·n)."""
    pairs = [
        (float(v), 1 << lvl) for lvl, vals in levels.items() for v in vals
    ]
    if not pairs:
        return [(q, float("nan")) for q in probs]
    pairs.sort()
    n = sum(w for _, w in pairs)
    out = []
    for q in probs:
        target = max(1, int(np.ceil(q * n)))
        cum = 0
        est = pairs[-1][0]
        for v, w in pairs:
            cum += w
            if cum >= target:
                est = v
                break
        out.append((q, est))
    return out


def _rows_to_levels(pdf: pd.DataFrame) -> dict[int, np.ndarray]:
    return {
        int(lvl): grp["value"].to_numpy(dtype=np.float64)
        for lvl, grp in pdf.groupby("level")
    }


def _levels_to_rows(levels: dict[int, np.ndarray]) -> pd.DataFrame:
    lvls, vals = [], []
    for lvl in sorted(levels):
        v = levels[lvl]
        lvls.extend([lvl] * len(v))
        vals.extend(v.tolist())
    return pd.DataFrame({"level": pd.array(lvls, dtype="int32"),
                         "value": pd.array(vals, dtype="float64")})


def quantile_sketch_rows(
    df: DataFrame,
    value_col: str,
    k: int = MRL_K,
    fanout: int = 16,
) -> DataFrame:
    """Build the corpus sketch as a DataFrame of ``(level, value)`` rows.

    One ``mapInPandas`` pass builds a per-partition sketch in streaming
    fashion (Arrow batch at a time, O(k·log n) memory — a partition's
    raw data is never held whole), then a two-stage tree merge (fan-in
    ``fanout`` groups, then one) reduces the per-partition sketches.
    Output is at most ``k · log2(n/k)`` rows."""
    src = df.select(F.col(value_col).cast("double").alias("value")).filter(
        F.col("value").isNotNull()
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        levels: dict[int, np.ndarray] = {}
        for pdf in batches:
            if len(pdf):
                levels = mrl_insert(
                    levels, pdf["value"].to_numpy(dtype=np.float64), k
                )
        yield _levels_to_rows(levels)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return _levels_to_rows(mrl_compact(_rows_to_levels(pdf), k))

    partial = src.mapInPandas(build, schema=_SKETCH_SCHEMA)
    stage1 = (
        partial.withColumn(
            "g", F.pmod(F.spark_partition_id(), F.lit(fanout))
        )
        .groupBy("g")
        .applyInPandas(
            lambda pdf: merge(pdf.drop(columns=["g"])), schema=_SKETCH_SCHEMA
        )
    )
    return (
        stage1.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            lambda pdf: merge(pdf.drop(columns=["g"])), schema=_SKETCH_SCHEMA
        )
    )


_GROUPED_SCHEMA = "g_key string, level int, value double"


def grouped_quantile_sketch_rows(
    df: DataFrame,
    group_col,
    value_col: str,
    k: int = MRL_K,
    fanout: int = 16,
) -> DataFrame:
    """Per-group corpus sketches as ``(g_key, level, value)`` rows — the
    datacard shape: one pass gives every domain/language/window its own
    mergeable percentile summary.

    Same build as :func:`quantile_sketch_rows` with the group key
    carried through: the mapInPandas pass keeps one sketch per group
    PRESENT IN THE PARTITION (memory O(groups_in_partition · k·log n) —
    the same space any per-group summary pays), the tree merge runs
    per ``(group, fan-in bucket)`` then per group, so a billion-row
    group and a thousand-row group each get exactly the merge work
    their size demands. ``group_col`` may be a column expression (e.g.
    a window truncation); it is rendered to string for the key."""
    gcol = F.col(group_col) if isinstance(group_col, str) else group_col
    src = df.select(
        gcol.cast("string").alias("g_key"),
        F.col(value_col).cast("double").alias("value"),
    ).filter(F.col("value").isNotNull() & F.col("g_key").isNotNull())

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[str, dict[int, np.ndarray]] = {}
        for pdf in batches:
            for gk, grp in pdf.groupby("g_key"):
                sketches[gk] = mrl_insert(
                    sketches.get(gk, {}),
                    grp["value"].to_numpy(dtype=np.float64),
                    k,
                )
        frames = []
        for gk, levels in sketches.items():
            rows = _levels_to_rows(levels)
            rows.insert(0, "g_key", gk)
            frames.append(rows)
        yield (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(
                {"g_key": pd.Series([], dtype="object"),
                 "level": pd.Series([], dtype="int32"),
                 "value": pd.Series([], dtype="float64")}
            )
        )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        gk = pdf["g_key"].iloc[0]
        rows = _levels_to_rows(
            mrl_compact(_rows_to_levels(pdf[["level", "value"]]), k)
        )
        rows.insert(0, "g_key", gk)
        return rows

    partial = src.mapInPandas(build, schema=_GROUPED_SCHEMA)
    stage1 = (
        partial.withColumn(
            "b", F.pmod(F.spark_partition_id(), F.lit(fanout))
        )
        .groupBy("g_key", "b")
        .applyInPandas(
            lambda pdf: merge(pdf.drop(columns=["b"])),
            schema=_GROUPED_SCHEMA,
        )
    )
    return stage1.groupBy("g_key").applyInPandas(
        merge, schema=_GROUPED_SCHEMA
    )


def collect_grouped_sketch(
    sketch_rows: DataFrame,
) -> dict[str, dict[int, np.ndarray]]:
    """Materialize grouped sketch rows (bounded: n_groups · k·levels) as
    {g_key: level→values}. The caller owns the boundedness argument for
    its group count (a probe/report runs over a bounded group set)."""
    acc: dict[str, dict[int, list[float]]] = {}
    for r in sketch_rows.collect():
        acc.setdefault(r["g_key"], {}).setdefault(
            int(r["level"]), []
        ).append(float(r["value"]))
    return {
        gk: {
            lvl: np.sort(np.asarray(v, dtype=np.float64))
            for lvl, v in levels.items()
        }
        for gk, levels in acc.items()
    }


# --------------------------------------------------------------------------
# KMV / theta sketch — distinct counting WITH set operations
# --------------------------------------------------------------------------
# k-minimum-values sketch (Bar-Yossef et al. 2002; set operations per the
# theta-sketch framework, Dasgupta et al.) under the repo's Knuth
# arithmetic hash convention (same constants as the count-min rows), so
# the ENTIRE sketch, its merge, and every estimate are replayed exactly
# by the DuckDB oracle — the same value-check class as q_countmin_sketch,
# unlike the gate-form HLL. What KMV adds over HLL: a theta sketch
# supports INTERSECTION estimates (join-size / overlap estimation), which
# union-only HLL cannot.
#
# Laws (all deterministic):
# - merge is LOSSLESS vs rebuild: the k smallest of (KMV(A) ∪ KMV(B))
#   equal the k smallest of hashes(A ∪ B), because any union top-k value
#   is in its own set's top-k. Merge order never matters.
# - estimate: exact |hashes| when the sketch is not full, else
#   (k-1) · P / h_(k) — all-integer inputs, one double division.
# - intersection: θ = min(θ_A, θ_B); est = |S_A ∩ S_B ∩ [0, θ)| · P / θ.
#   When both sketches are exact θ = P and the formula degrades to the
#   exact overlap count (h < P always holds).

KMV_P = 2147483647  # 2^31 - 1, prime (shared with the CMS rows)
KMV_A = 2654435761
KMV_B = 1
KMV_K = 64

#: count-min sketch geometry + Knuth-style arithmetic hash constants —
#: pure integer arithmetic so BOTH engines can replay the sketch exactly
#: (xxhash64 has no DuckDB twin; these do). Row 0 is the KMV hash.
CMS_P = KMV_P
CMS_W = 64
CMS_ROWS = ((KMV_A, KMV_B), (2246822519, 7), (3266489917, 31),
            (668265263, 127))


def _knuth_hash(col, a: int, b: int):
    """``(col * a + b) mod P`` as bigint: the decimal(20,0) x
    decimal(10,0) multiply stays exact far past the bigint-overflow
    point, so any non-negative bigint id hashes exactly."""
    return F.pmod(
        col.cast("decimal(20,0)") * F.lit(a).cast("decimal(10,0)")
        + F.lit(b).cast("decimal(10,0)"),
        F.lit(KMV_P).cast("decimal(20,0)"),
    ).cast("bigint")


def kmv_hash_expr(col):
    """Knuth arithmetic hash into [0, P) (row 0 of the CMS hashes)."""
    return _knuth_hash(col, KMV_A, KMV_B)


def cms_cells(col):
    """Count-min cells of ``col``: a generator column yielding one
    ``(i int, bucket bigint)`` row per sketch row i, with
    ``bucket = (col * a_i + b_i) mod P mod W`` — the same arithmetic the
    DuckDB oracles spell out with HUGEINT."""
    return F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.pmod(_knuth_hash(col, a, b), F.lit(CMS_W)).alias(
                        "bucket"
                    ),
                )
                for i, (a, b) in enumerate(CMS_ROWS)
            ]
        )
    )


def kmv_sketch(
    df: DataFrame, key_col: str, k: int = KMV_K
) -> tuple[list[int], int]:
    """Build the sketch: (k smallest distinct hashes sorted asc,
    distinct-hash count). The k-smallest fetch is a TakeOrdered (per-
    partition top-k, no global sort); both driver artifacts are bounded
    (k rows + one scalar). Production persists the distinct-hash
    relation once when both are needed."""
    hashed = df.select(
        kmv_hash_expr(F.col(key_col)).alias("h")
    ).filter(F.col("h").isNotNull()).distinct()
    hashed = hashed.localCheckpoint(eager=True)  # one evaluation, two reads
    n = hashed.count()
    smallest = [int(r["h"]) for r in hashed.orderBy("h").limit(k).collect()]
    return smallest, n


def kmv_merge(
    sketches: Iterable[tuple[list[int], int]], k: int = KMV_K
) -> tuple[list[int], int]:
    """Merge sketches: k smallest of the value union. The count slot of
    a merged sketch is |value union| (== the true distinct-hash count
    whenever it is below k, i.e. whenever every input was exact)."""
    vals: set[int] = set()
    for s, _ in sketches:
        vals.update(s)
    merged = sorted(vals)
    return merged[:k], len(merged)


def kmv_estimate(sketch: list[int], n_hashes: int, k: int = KMV_K) -> float:
    """Distinct-count estimate: exact below capacity, (k-1)·P/θ else."""
    if n_hashes < k:
        return float(n_hashes)
    return (k - 1) * float(KMV_P) / float(sketch[k - 1])


def kmv_theta(sketch: list[int], n_hashes: int, k: int = KMV_K) -> int:
    return sketch[k - 1] if n_hashes >= k else KMV_P


def kmv_intersect_estimate(
    a: tuple[list[int], int], b: tuple[list[int], int], k: int = KMV_K
) -> float:
    """Theta-sketch intersection: overlap of the retained sets below the
    common θ, scaled by P/θ. Exact when both sketches are exact."""
    theta = min(kmv_theta(*a, k), kmv_theta(*b, k))
    common = sum(1 for h in set(a[0]) & set(b[0]) if h < theta)
    return common * float(KMV_P) / float(theta)


def kmv_difference_estimate(
    a: tuple[list[int], int], b: tuple[list[int], int], k: int = KMV_K
) -> float:
    """Theta-sketch A-NOT-B: retained values of A below the common θ
    that B's sketch does not contain, scaled by P/θ. Exact when both
    sketches are exact (θ = P retains everything)."""
    theta = min(kmv_theta(*a, k), kmv_theta(*b, k))
    only = sum(1 for h in set(a[0]) - set(b[0]) if h < theta)
    return only * float(KMV_P) / float(theta)


def collect_sketch(sketch_rows: DataFrame) -> dict[int, np.ndarray]:
    """Materialize a sketch-rows DataFrame (a bounded artifact — at most
    k·levels rows by construction) into the level→values map."""
    rows = sketch_rows.collect()
    acc: dict[int, list[float]] = {}
    for r in rows:
        acc.setdefault(int(r["level"]), []).append(float(r["value"]))
    return {
        lvl: np.sort(np.asarray(v, dtype=np.float64))
        for lvl, v in acc.items()
    }


# --------------------------------------------------------------------------
# Persisted grouped-sketch ledger — the restart-proof monitor state
# --------------------------------------------------------------------------
# A per-group MRL ledger a streaming percentile monitor can survive on:
# the state is a BOUNDED parquet artifact (groups x k x levels rows),
# rewritten once per micro-batch into a new GENERATION directory named by
# the batch id, committed by parquet's _SUCCESS marker. Three properties
# fall out, each one a production requirement foreachBatch state needs
# and in-memory dicts lack:
#
# - crash safety: a torn write of generation N leaves generation N-1
#   intact; the reader picks the newest generation WITH a _SUCCESS
#   marker, so the ledger is never observed mid-write.
# - exactly-once APPLICATION under at-least-once batch delivery: the
#   micro-batch engine re-runs an uncommitted batch with the same batch
#   id after a crash; `apply` compares that id against the newest
#   committed generation and SKIPS re-merging (MRL merge is not
#   idempotent — a double-fold would double the weight, which the
#   weight==COUNT(*) audit would catch; the skip makes the audit pass
#   by construction instead of by luck).
# - restart = re-merge from the ledger, never from raw history: the
#   recovery read is O(groups x k x levels), independent of how long
#   the stream has been running.
#
# Scale shape: every operation here touches only the bounded artifact
# (the monitor's contract bounds its group count — daily windows, label
# sets); raw stream data is reduced to per-batch sketches by the
# partition-parallel grouped build before any of this runs.
#
# Two generation-DISCOVERY protocols, selected by ``protocol=``:
#
# - "listing" (default, local FS): the newest generation is the highest
#   gen-N directory carrying a parquet _SUCCESS marker. Correct wherever
#   directory listing is atomic and _SUCCESS rename is the commit point.
# - "manifest" (object stores): commit writes the generation directory
#   FIRST, then atomically swaps a single MANIFEST file naming the
#   newest generation (write tmp + rename — the one primitive S3-class
#   stores give you via copy-then-delete or conditional put); read is a
#   manifest lookup, never a listing, so eventually-consistent or
#   non-atomic listings can't surface a torn generation. Crash BETWEEN
#   the generation write and the manifest swap leaves the manifest at
#   N-1; the re-delivered batch re-reads N-1 state, re-merges, and
#   OVERWRITES the orphaned gen-N directory before swapping — the
#   pre-crash state is what feeds the merge, so no double-fold can
#   occur (single-writer micro-batch discipline, the same assumption
#   foreachBatch itself makes). Pruning still lists best-effort: it is
#   GC, not correctness — a generation the manifest doesn't name is
#   never read.

_GEN_PREFIX = "gen-"
_MANIFEST = "MANIFEST"


def _ledger_generations(ledger_dir: str) -> list[int]:
    import os

    try:
        names = os.listdir(ledger_dir)
    except FileNotFoundError:
        return []
    gens = []
    for n in names:
        if n.startswith(_GEN_PREFIX):
            try:
                g = int(n[len(_GEN_PREFIX):])
            except ValueError:
                continue
            if os.path.exists(os.path.join(ledger_dir, n, "_SUCCESS")):
                gens.append(g)
    return sorted(gens)


def _ledger_newest(ledger_dir: str, protocol: str = "listing") -> int:
    """Newest committed generation id under the given protocol, -1
    before the first commit. Manifest protocol: a MANIFEST that exists
    but does not parse is CORRUPT (atomic swap means readers see the
    old or the new content, never a torn one) — fail loudly rather
    than silently restarting from -1 and double-applying history."""
    import os

    if protocol == "manifest":
        path = os.path.join(ledger_dir, _MANIFEST)
        try:
            with open(path, encoding="ascii") as fh:
                raw = fh.read().strip()
        except FileNotFoundError:
            return -1
        try:
            return int(raw)
        except ValueError:
            raise ValueError(
                f"corrupt ledger manifest {path!r}: {raw[:40]!r} — "
                "not a generation id; refusing to guess (a restart "
                "from -1 would re-apply committed batches)"
            ) from None
    gens = _ledger_generations(ledger_dir)
    return gens[-1] if gens else -1


def _manifest_swap(ledger_dir: str, batch_id: int) -> None:
    """Atomically point the MANIFEST at ``batch_id``: write a tmp file,
    fsync, rename over the manifest (POSIX-atomic; the object-store
    analog is a conditional put of the manifest object)."""
    import os

    tmp = os.path.join(ledger_dir, f".{_MANIFEST}.tmp")
    with open(tmp, "w", encoding="ascii") as fh:
        fh.write(str(batch_id))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(ledger_dir, _MANIFEST))


#: DDL type -> pyarrow type for the ledger fast path (flat primitive
#: schemas only — every ledger state is bounded and primitive by
#: design; anything else falls back to the Spark writer)
_LEDGER_PA_TYPES = {
    "int": "int32",
    "integer": "int32",
    "long": "int64",
    "bigint": "int64",
    "string": "string",
    "double": "float64",
    "float": "float32",
    "boolean": "bool_",
}


def _ledger_pa_fields(schema: str):
    """Parse a flat DDL schema string into [(name, pyarrow type)], or
    None when any column type is outside the fast-path set."""
    import pyarrow as pa

    fields = []
    for part in schema.split(","):
        bits = part.strip().split()
        if len(bits) != 2:
            return None
        name, typ = bits
        pa_name = _LEDGER_PA_TYPES.get(typ.lower())
        if pa_name is None:
            return None
        fields.append((name, getattr(pa, pa_name)()))
    return fields


def rows_ledger_read(
    spark, ledger_dir: str, protocol: str = "listing"
) -> tuple[list, int]:
    """Read the newest committed generation's rows (any schema) and the
    batch id it covers. ``([], -1)`` before the first commit.

    Reads via pyarrow directly (rows come back as dicts — every
    consumer indexes by column name, which pyspark Rows also support):
    ledger states are BOUNDED artifacts (k·levels rows / 256 cells / 65
    values) by design, so paying a distributed-read Spark job per
    micro-batch per family was pure fixed overhead — the r10 monitor
    suite spent most of its 113s budget on exactly these driver-paced
    sub-second jobs. The on-disk format is unchanged (parquet files in
    a _SUCCESS-committed generation dir), so ledgers written by either
    path read identically from both."""
    import glob as _glob

    import pyarrow.parquet as _pq

    newest = _ledger_newest(ledger_dir, protocol)
    if newest < 0:
        return [], -1
    rows: list = []
    for f in sorted(
        _glob.glob(f"{ledger_dir}/{_GEN_PREFIX}{newest}/*.parquet")
    ):
        rows.extend(_pq.read_table(f).to_pylist())
    return rows, newest


def rows_ledger_commit(
    spark,
    ledger_dir: str,
    rows: list,
    schema: str,
    batch_id: int,
    keep_generations: int = 2,
    applied_through: int | None = None,
    protocol: str = "listing",
) -> bool:
    """Commit the FULL post-merge state as generation ``batch_id``,
    idempotently: if the newest committed generation already covers
    ``batch_id`` (a crash-after-commit re-delivery), do nothing and
    return False. Prunes generations older than the newest
    ``keep_generations``. The sketch-agnostic half of the ledger
    protocol — every mergeable-sketch streaming twin (MRL, CMS, Bloom,
    KMV) persists through this with its own merge applied by the
    caller; the crash-safety/idempotence/torn-write guarantees are the
    protocol's, not the sketch's.

    ``applied_through``: callers that just read the ledger (the apply
    path always has) pass the batch id that read returned, skipping a
    second full parquet read whose only purpose is re-learning it; the
    generation discovery is cheap, the row collect is not. ``None``
    keeps the self-contained re-check for direct callers.

    ``protocol="manifest"`` commits by atomically swapping the MANIFEST
    file AFTER the generation directory is fully written — the
    object-store-safe variant (module docstring); pruning under either
    protocol is best-effort listing-based GC, never read-path
    correctness."""
    import os
    import shutil

    if applied_through is None:
        applied_through = _ledger_newest(ledger_dir, protocol)
    if batch_id <= applied_through:
        return False
    gen_dir = f"{ledger_dir}/{_GEN_PREFIX}{batch_id}"
    fields = _ledger_pa_fields(schema)
    if fields is not None:
        # fast path: bounded flat-primitive state written by pyarrow —
        # same on-disk layout (parquet + _SUCCESS marker) without a
        # Spark job per commit (see rows_ledger_read); a crash between
        # the parquet write and the _SUCCESS touch leaves an
        # uncommitted generation exactly as the Spark writer would
        import pyarrow as pa
        import pyarrow.parquet as _pq

        shutil.rmtree(gen_dir, ignore_errors=True)
        os.makedirs(gen_dir, exist_ok=True)
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        table = pa.table(
            {
                name: pa.array(list(col), type=t)
                for (name, t), col in zip(fields, cols)
            }
        )
        _pq.write_table(table, os.path.join(gen_dir, "part-00000.parquet"))
        with open(os.path.join(gen_dir, "_SUCCESS"), "w"):
            pass
    else:
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(gen_dir)
    if protocol == "manifest":
        _manifest_swap(ledger_dir, batch_id)
    keep = {batch_id}
    if protocol == "manifest":
        # never GC a generation the manifest might still name
        keep.add(_ledger_newest(ledger_dir, protocol))
    for g in _ledger_generations(ledger_dir)[:-keep_generations]:
        if g not in keep:
            shutil.rmtree(
                os.path.join(ledger_dir, f"{_GEN_PREFIX}{g}"),
                ignore_errors=True,
            )
    return True


def sketch_ledger_read(
    spark, ledger_dir: str, protocol: str = "listing"
) -> tuple[dict[str, dict[int, np.ndarray]], int]:
    """Read the newest committed generation: ({group: level→values},
    applied_through_batch_id). (-1, empty) before the first commit."""
    rows, newest = rows_ledger_read(spark, ledger_dir, protocol)
    acc: dict[str, dict[int, list[float]]] = {}
    for r in rows:
        acc.setdefault(r["g_key"], {}).setdefault(
            int(r["level"]), []
        ).append(float(r["value"]))
    state = {
        gk: {
            lvl: np.sort(np.asarray(v, dtype=np.float64))
            for lvl, v in levels.items()
        }
        for gk, levels in acc.items()
    }
    return state, newest


def sketch_ledger_apply(
    spark,
    ledger_dir: str,
    batch_sketches: dict[str, dict[int, np.ndarray]],
    batch_id: int,
    keep_generations: int = 2,
    protocol: str = "listing",
) -> bool:
    """Fold one micro-batch's per-group MRL sketches into the ledger,
    idempotently: if ``batch_id`` is already covered by the newest
    committed generation (a crash-after-commit re-delivery), do nothing
    and return False. Otherwise merge, commit generation ``batch_id``,
    prune generations older than the newest ``keep_generations``, and
    return True."""
    state, applied_through = sketch_ledger_read(
        spark, ledger_dir, protocol
    )
    if batch_id <= applied_through:
        return False
    for gk, sk in batch_sketches.items():
        state[gk] = mrl_merge([state.get(gk, {}), sk])
    rows = []
    for gk in sorted(state):
        for lvl in sorted(state[gk]):
            for v in state[gk][lvl]:
                rows.append((gk, int(lvl), float(v)))
    return rows_ledger_commit(
        spark, ledger_dir, rows, _GROUPED_SCHEMA, batch_id,
        keep_generations, applied_through=applied_through,
        protocol=protocol,
    )


def table_ledger_read(
    spark, ledger_dir: str, protocol: str = "listing"
):
    """Read the newest committed generation as a DATAFRAME (not driver
    rows) plus the batch id it covers — ``(None, -1)`` before the first
    commit. The data-scaled companion of :func:`rows_ledger_read`: a
    label table, an index snapshot or any other state that grows with
    the data must never round-trip through the driver, so this variant
    keeps the state distributed end to end. Same on-disk layout and
    protocols (generation dirs, _SUCCESS, optional MANIFEST swap)."""
    newest = _ledger_newest(ledger_dir, protocol)
    if newest < 0:
        return None, -1
    return (
        spark.read.parquet(f"{ledger_dir}/{_GEN_PREFIX}{newest}"),
        newest,
    )


def table_ledger_commit(
    df: DataFrame,
    ledger_dir: str,
    batch_id: int,
    keep_generations: int = 2,
    applied_through: int | None = None,
    protocol: str = "listing",
) -> bool:
    """Commit a DATA-SCALED state DataFrame as generation ``batch_id``,
    idempotently (same contract as :func:`rows_ledger_commit`). The
    generation is written by the distributed DataFrame writer — the
    state never visits the driver; Spark's own _SUCCESS marker commits
    the listing protocol, and the manifest swap runs after the write
    for the object-store-safe variant. ``keep_generations >= 2`` is
    required when the new state is DERIVED from the previous
    generation's DataFrame: the read of gen N must stay valid while
    gen N+1 is being written."""
    import os
    import shutil

    if applied_through is None:
        applied_through = _ledger_newest(ledger_dir, protocol)
    if batch_id <= applied_through:
        return False
    gen_dir = f"{ledger_dir}/{_GEN_PREFIX}{batch_id}"
    df.write.mode("overwrite").parquet(gen_dir)
    if protocol == "manifest":
        _manifest_swap(ledger_dir, batch_id)
    keep = {batch_id}
    if protocol == "manifest":
        keep.add(_ledger_newest(ledger_dir, protocol))
    for g in _ledger_generations(ledger_dir)[:-keep_generations]:
        if g not in keep:
            shutil.rmtree(
                os.path.join(ledger_dir, f"{_GEN_PREFIX}{g}"),
                ignore_errors=True,
            )
    return True


def grouped_kmv_sketch_rows(
    df: DataFrame, group_col: str, key_col: str, k: int = KMV_K
) -> DataFrame:
    """Per-group KMV sketches as ``(g_key, sketch array<bigint>,
    n_hashes)`` rows — the datacard shape: one pass gives every
    domain/language/source its own mergeable distinct-count sketch,
    and because KMV is a theta sketch the PAIRWISE overlap /
    containment matrix between groups falls out of the k-row
    artifacts alone.

    Scale shape: one distinct shuffle on (group, hash), then the
    k-smallest are taken in two bounded phases — per-(group,
    partition) local top-k (map-side collect_set is bounded by the
    partition), then a per-group merge over <= k x n_partitions
    values. No per-group global sort, no unbounded state; the merge
    IS the KMV merge (k smallest of the union). n_hashes (the exact
    distinct-hash count the estimator needs below capacity) rides the
    same checkpointed distinct relation."""
    hashed = (
        df.select(
            F.col(group_col).cast("string").alias("g_key"),
            kmv_hash_expr(F.col(key_col)).alias("h"),
        )
        .filter(F.col("h").isNotNull() & F.col("g_key").isNotNull())
        .distinct()
    )
    hashed = hashed.localCheckpoint(eager=True)  # one eval, two reads
    counts = hashed.groupBy("g_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hashes")
    )
    local = hashed.groupBy(
        "g_key", F.spark_partition_id().alias("p")
    ).agg(F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("vals"))
    merged = (
        local.select("g_key", F.explode("vals").alias("h"))
        .groupBy("g_key")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("sketch"))
    )
    return merged.join(counts, "g_key")


def collect_grouped_kmv(
    sketch_rows: DataFrame,
) -> dict[str, tuple[list[int], int]]:
    """Materialize grouped KMV rows (bounded: n_groups x (k+1) values)
    as {g_key: (sorted k-smallest hashes, distinct-hash count)}."""
    return {
        r["g_key"]: ([int(v) for v in r["sketch"]], int(r["n_hashes"]))
        for r in sketch_rows.collect()
    }


def md5_hash31(col):
    """md5-derived 31-bit hash of a string column — first 16 hex chars
    parsed as uint64 mod 2^31-1. Bit-identical in DuckDB via
    ``CAST('0x' || substring(md5(x),1,16) AS UBIGINT) % 2147483647``,
    so every sketch built on it is oracle-replayable. Costs one digest
    per value; the xxhash64 convention stays the production default."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(
        F.conv(F.substring(F.md5(c), 1, 16), 16, 10).cast("decimal(20,0)"),
        F.lit(2147483647).cast("decimal(20,0)"),
    ).cast("bigint")
