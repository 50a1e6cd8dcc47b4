"""Deterministic global docID assignment without a driver bottleneck.

Reference analog: the serial global row-offset counter
(``xml_parsers.py:513``, SURVEY.md §2.4 A7) — a single mutable integer that
serializes the whole build. The Spark replacement assigns
``doc_id = rank of (key_cols) in the global sort order`` with a
range-repartition + per-partition prefix-sum: no global window, no driver
loop, deterministic across runs and parallelism levels (required for
rank-identity vs the oracle and for resumable builds, SURVEY.md §7.4 #2).
The P partition offsets reach the rows as one array literal indexed by the
partition id, so the rank needs no join and no local-data DataFrame.
"""

from __future__ import annotations

import functools
import operator
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Join-back broadcast cutover (rows). The rank table is keys-only (~100 B/
# row), so up to this many rows it ships as a broadcast hash relation
# (~hundreds of MB) and the PAYLOAD side of the join-back is never
# shuffled — the guide-§8 "attach the plan without re-shuffling the
# payload" move. Above it (e.g. 10^12-doc corpora) the join stays
# sort-merge/AQE-planned. Parameterised for cluster tuning: a real
# deployment sizes this to executor memory (rows x ~150 B must fit
# comfortably next to execution memory).
BROADCAST_IDS_MAX_ROWS = int(os.environ.get("GRAFT_BROADCAST_IDS_ROWS", "4000000"))
# below this many rows the full-key broadcast build is cheap enough that the
# hash-compressed variant's collision-check job is pure scheduling overhead
HASH_IDS_MIN_ROWS = int(os.environ.get("GRAFT_HASH_IDS_MIN_ROWS", "262144"))


def assign_dense_ids(
    df: DataFrame,
    key_cols: list[str],
    out_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = 0-based dense rank of the (unique) natural key.

    Payload columns never ride the ranking machinery: the rank is computed
    over a KEYS-ONLY projection (so the range-partitioner's sampling pass,
    the range exchange, and the load-bearing persist all touch ~100 B/row
    instead of the multi-KB content column), then joined back on the key —
    one hash exchange of the payload, which AQE turns into a broadcast of
    the tiny ids table when it fits (then the payload never shuffles at
    all). Measured on the r4 1M-doc build: the tf stage's id-assignment
    overhead drops by the full content-cache + content-sample cost.
    doc_id VALUES are unchanged: the rank of a unique key does not depend
    on which columns ride along.
    """
    other_cols = [c for c in df.columns if c not in key_cols]
    if "_graft_kh" in df.columns:
        # reserved: the hash join-back below names its key column so, and
        # would overwrite and then drop a payload column of that name
        raise ValueError(
            "assign_dense_ids: column name '_graft_kh' is reserved; "
            "rename it before assigning ids"
        )
    if other_cols:
        # Key-uniqueness is load-bearing on this path (ADVICE r04): with a
        # duplicate natural key the rank table holds one row per INPUT row,
        # so the key join would fan each payload row out to every rank row
        # of its key — silent row multiplication. _rank_keys detects this
        # for free (adjacency flag in its existing window pass) and raises.
        ids = _rank_keys(df.select(*key_cols), key_cols, out_col, partitions)
        # join-back strategy (guide §8 "attach the plan"): the ranked table's
        # exact row count is already on the driver (the counts collect), so
        # when it is broadcast-sized the payload side joins WITHOUT an
        # exchange — Catalyst's own size estimate for the persisted rank
        # table exceeds autoBroadcastJoinThreshold well before this cap, so
        # without the hint a multi-GB payload (corpus content) would be
        # hash-shuffled AND sorted just to pick up an 8-byte id.
        #
        # r6 session 2: the broadcast payload is HASH-COMPRESSED. Measured
        # at 2M docs on the pinned exec pair, broadcasting the full string
        # keys cost ~9 s of SERIAL driver time (collect + hash-relation
        # build + ship of ~200 MB) — at 8 executors that made the broadcast
        # join-back SLOWER than the sort-merge it replaced (21.5 s vs
        # 12.8 s noop-isolated). Shipping (xxhash64(keys), id) at 16 B/row
        # cuts the serial build ~10x while keeping the content un-shuffled.
        # Correctness is EXACT, not probabilistic: keys are unique (the
        # ranking guard enforces it), and one tiny parallel job over the
        # persisted rank table verifies countDistinct(hash) == n_rows —
        # a bijection between hashes and keys, so the hash equi-join is
        # provably identical to the key equi-join. Any collision (or an
        # unverifiable count) falls back to the full-key broadcast.
        total = getattr(ids, "_rank_total", None)
        if (
            total is not None
            and HASH_IDS_MIN_ROWS <= total <= BROADCAST_IDS_MAX_ROWS
        ):
            kh = F.xxhash64(*[F.col(c) for c in key_cols])
            n_hashes = ids.agg(F.countDistinct(kh).alias("n")).collect()[0]["n"]
            if int(n_hashes) == int(total):
                compact = ids.select(kh.alias("_graft_kh"), F.col(out_col))
                out = (
                    df.withColumn("_graft_kh", kh)
                    .join(F.broadcast(compact), "_graft_kh")
                    .drop("_graft_kh")
                )
            else:  # 64-bit collision (~n^2/2^64): keep the exact key join
                out = df.join(F.broadcast(ids), key_cols)
        elif total is not None and total <= BROADCAST_IDS_MAX_ROWS:
            # small rank table: the full-key broadcast is already cheap —
            # not worth the collision-check job's scheduling latency
            out = df.join(F.broadcast(ids), key_cols)
        else:
            out = df.join(ids, key_cols)
        out._dense_ids_cache = ids._dense_ids_cache
        out._rank_total = total
        return out
    return _rank_keys(df, key_cols, out_col, partitions)


def _rank_keys(
    df: DataFrame,
    key_cols: list[str],
    out_col: str,
    partitions: int | None,
) -> DataFrame:
    """The rank machinery itself (keys-only input):
    1. range-repartition on the key (global order across partitions)
    2. per-partition row_number (shuffle-free ordering within partition)
    3. tiny per-partition count collect -> prefix-sum offsets -> one
       array literal indexed by the partition id (no join)
    """
    partitions = partitions or df.sparkSession.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(partitions, *key_cols)

    w_part = Window.partitionBy("_pid").orderBy(*key_cols)
    # PERSIST is load-bearing: repartitionByRange picks boundaries by
    # *seedless sampling*, so two separate jobs over the same lineage can
    # disagree on partition boundaries — the count pass and the final pass
    # must see the same materialization or ids get corrupted at boundaries.
    # (Same technique RDD.zipWithIndex uses: one count job over a pinned
    # partitioning, then a map.) Callers may unpersist via `_dense_ids_cache`
    # once the result is written out.
    #
    # _dup piggybacks on the SAME window pass (same partition/order spec, so
    # Catalyst evaluates it in the one Window operator): equal keys land in
    # one range partition and are adjacent under the sort, so lag-equality
    # sees every duplicate. Summing it in the counts aggregate below makes
    # the uniqueness check cost ZERO extra jobs (r5; it was a separate
    # groupBy-collect shuffle per build).
    key_struct = F.struct(*key_cols)
    local = (
        keyed.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w_part))
        .withColumn(
            # eqNullSafe, not ==: duplicate keys with NULL fields still sort
            # adjacent and must still be caught (plain == yields NULL there);
            # the first row's lag is NULL and eqNullSafe(struct, NULL) = false
            "_dup",
            key_struct.eqNullSafe(F.lag(key_struct).over(w_part)).cast("int"),
        )
    ).persist()
    # offsets: cumulative count of rows in all preceding partitions
    # (partition_offsets). _nulls rides the same collect: a NULL key field
    # has no rank to join back on (the key joins drop such rows, the hash
    # join keeps them), so it is rejected like a duplicate
    null_key = functools.reduce(operator.or_, [F.col(c).isNull() for c in key_cols])
    counts = local.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum("_dup").alias("_dups"),
        F.sum(null_key.cast("int")).alias("_nulls"),
    ).collect()
    if any(r["_nulls"] for r in counts):
        local.unpersist()
        raise ValueError(
            f"assign_dense_ids: key {key_cols} has NULL values in "
            f"{sum(r['_nulls'] or 0 for r in counts)} row(s); a NULL key "
            "has no rank to join back on — drop or fill those rows, or "
            "pass an explicit id_col"
        )
    if any(r["_dups"] for r in counts):
        # failure path only: one extra job to name an offending key
        ex = (
            local.filter(F.col("_dup") == 1).select(*key_cols).limit(1).collect()
        )
        local.unpersist()
        raise ValueError(
            f"assign_dense_ids: key {key_cols} is not unique "
            f"(e.g. {tuple(ex[0][c] for c in key_cols) if ex else '?'}); "
            "dense-rank ids over a duplicate key are order-nondeterministic "
            "and multiply payload rows at the join-back — deduplicate the "
            "corpus or pass an explicit id_col"
        )
    offsets, acc = partition_offsets(
        ((r["_pid"], r["_cnt"]) for r in counts), partitions
    )
    out = local.withColumn(
        out_col, offsets[F.col("_pid")] + F.col("_rn") - 1
    ).drop("_pid", "_rn", "_dup")
    out._dense_ids_cache = local  # handle for caller-side unpersist
    out._rank_total = acc  # exact row count, already paid for by the collect
    return out


def partition_offsets(counts, n_parts: int) -> tuple[Column, int]:
    """Offsets of ``n_parts`` range partitions from their ``(pid, rows)``
    counts, plus the total: a partition's offset is the row count of every
    partition before it, so ``offsets[_pid] + local rank`` is the global
    rank. The prefix sum runs driver-side over P rows of metadata (the
    standard zipWithIndex technique), never on row data, and the offsets
    go back as ONE ``array<long>`` literal indexed by the partition id: no
    join, and no local-data relation — one would start a second Python
    worker pool for its parallelize and, as a LogicalRDD with no size
    statistics, make the planner broadcast the other side of any join
    against the ranked table."""
    acc, by_pid = 0, {}
    for pid, n in sorted(counts):
        by_pid[pid] = acc
        acc += n
    offsets = F.array(*[F.lit(by_pid.get(p, 0)) for p in range(n_parts)])
    return offsets.cast("array<long>"), acc


def assign_doc_ids(df: DataFrame, key_cols: list[str], partitions: int | None = None) -> DataFrame:
    """doc_id assignment (reference analog: serial counter ``xml_parsers.py:513``)."""
    return assign_dense_ids(df, key_cols, "doc_id", partitions)
