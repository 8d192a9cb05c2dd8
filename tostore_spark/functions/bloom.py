"""Distributed Bloom-filter runtime pruning for selective joins.

The reference engine avoids scanning non-matching rows with B+tree index
lookups (reference: lib/src/core/index_manager.dart — point/range probes
before touching table data).  At Spark scale the analogous scan-avoidance
artifact for a selective join is a Bloom filter: build a bitmap over the
build side's join keys, broadcast it (a 1 Mbit filter is 128 KB — pennies
on the wire), and drop probe rows whose keys cannot match BEFORE the join
shuffle.  AQE injects such runtime filters for some plan shapes
(spark.sql.optimizer.runtime.bloomFilter.enabled), but only within one
query: this module makes the filter a first-class, PERSISTABLE artifact
(a (word_idx, word) DataFrame, parquet-writable like minhash_band_index
or span_freq_index), so a key set distilled from one job — benchmark
contamination grams, a blocklist, yesterday's active users — can prune
today's 100 TB scan without re-reading its source.

Scale shape: the build is one scan + one hash-aggregate over bitmap words
(≤ m_bits/64 rows, uniform keys); the probe is one scan with a broadcast
1-row bitmap and a pure-column membership test — no shuffle, no explode
of the probe side, no driver round-trip.  False positives are possible
(the final equi-join removes them — results stay EXACT); false negatives
are not, so pruning never loses a matching row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_M_BITS = 1 << 20
DEFAULT_K_HASHES = 5


def _positions(key: Column, m_bits: int, k_hashes: int) -> list[Column]:
    """``k_hashes`` bit-position columns in [0, m_bits) for one key:
    pmod(xxhash64(key, i), m) — slot index i folded in as a hashed
    column so the k hashes are independent.  Keys are cast to string so
    the same value blooms identically regardless of source column type
    (the engine's loose-typing rule, compile.py).  Returned as plain
    scalar columns (not an array + higher-order function) so the
    membership conjunction survives predicate pushdown through the
    broadcast join — Catalyst mis-binds lambda variables when a HOF
    predicate becomes a join condition."""
    s = key.cast("string")
    return [F.pmod(F.xxhash64(s, F.lit(i)), F.lit(m_bits))
            for i in range(k_hashes)]


def bloom_build(df: DataFrame, key_field: str,
                m_bits: int = DEFAULT_M_BITS,
                k_hashes: int = DEFAULT_K_HASHES) -> DataFrame:
    """Build the bitmap: (word_idx long, word long) with one row per
    64-bit word that has any bit set (≤ m_bits/64 rows).  Deterministic
    (xxhash64 with fixed per-slot seeds) — rebuilding over the same keys
    yields the identical artifact, so persisted filters diff cleanly."""
    pos = F.array(*_positions(F.col(key_field), m_bits, k_hashes))
    # null keys are excluded on BOTH sides (xxhash64 skips null inputs,
    # which would otherwise give every null the same phantom bit set)
    return (df.filter(F.col(key_field).isNotNull())
              .select(F.explode(pos).alias("pos"))
              .distinct()
              .select(F.expr("pos div 64").alias("word_idx"),
                      F.expr("shiftleft(1L, int(pos % 64))").alias("bit"))
              .groupBy("word_idx")
              .agg(F.bit_or("bit").alias("word")))


def _bloom_compact(bloom: DataFrame, m_bits: int) -> DataFrame:
    """One-row DENSE array<long> form of the bitmap (index = word_idx,
    gaps zero-filled), for broadcast.  Dense matters: ``element_at`` on
    an array is O(1) positional indexing, while a map lookup is a linear
    scan of the entries — with a 1 Mbit filter (16K words) a map-form
    probe cost O(rows × 16K) comparisons, measured as ~3s of the sf0.1
    bloom join; the dense form makes each of the k probes constant
    time.  The gap fill is a distributed left join against the word-
    index range, collapsed by one 1-row sort aggregate."""
    n_words = (m_bits + 63) // 64
    rng = (bloom.sparkSession.range(n_words)
           .select(F.col("id").alias("word_idx")))
    dense = (rng.join(bloom, on="word_idx", how="left")
             .select("word_idx",
                     F.coalesce(F.col("word"), F.lit(0)).cast("long")
                      .alias("word")))
    return dense.agg(F.expr(
        "transform(array_sort(collect_list(struct(word_idx, word))),"
        " s -> s.word)").alias("__bloom_arr"))


def bloom_prune(probe: DataFrame, bloom: DataFrame, key_field: str,
                m_bits: int = DEFAULT_M_BITS,
                k_hashes: int = DEFAULT_K_HASHES) -> DataFrame:
    """Rows of ``probe`` whose key MIGHT be in the filter (a superset of
    the true matches; null keys never match — they are filtered
    explicitly, since xxhash64 skips null inputs and would otherwise
    hand every null the same phantom position set).  Pure column math
    over one probe scan: the bitmap rides in as a broadcast 1-row map,
    and the membership test is a conjunction over the k bit positions —
    the probe side is never exploded, shuffled, or collected."""
    # lazy barrier (the minhash_band_index precedent): the compact
    # 1-row bitmap materializes at the first action that reads it and
    # is reused after that, so every later action pays the probe scan
    # only — without it each action re-runs the build side's scan +
    # the gap-fill join
    compact = _bloom_compact(bloom, m_bits).localCheckpoint(eager=False)
    # membership = conjunction over the k bit tests; each conjunct is
    # scalar column math (O(1) dense-array index + shift + mask — no
    # higher-order function, see _positions), so the predicate survives
    # pushdown into the broadcast-join condition
    key_sql = f"cast(`{key_field}` as string)"
    conjuncts = []
    for i in range(k_hashes):
        p = f"pmod(xxhash64({key_sql}, {i}), {m_bits}L)"
        conjuncts.append(
            f"(shiftright(element_at(__bloom_arr, int(({p}) div 64) + 1),"
            f" int(({p}) % 64)) & 1) = 1")
    return (probe.filter(F.col(key_field).isNotNull())
            .crossJoin(F.broadcast(compact))
            .filter(F.expr(" AND ".join(conjuncts)))
            .drop("__bloom_arr"))


def bloom_join(probe: DataFrame, build: DataFrame, on: str,
               how: str = "inner",
               m_bits: int = DEFAULT_M_BITS,
               k_hashes: int = DEFAULT_K_HASHES) -> DataFrame:
    """Equi-join with explicit Bloom pre-pruning of the probe side.

    Exact: pruning has no false negatives, and the final equi-join
    removes the false positives, so the result is identical to
    ``probe.join(build, on, how)`` for match-only join types
    (``inner``/``left_semi`` — asserted; an outer join would need the
    pruned-away rows back).  Worth it when the build side is selective
    relative to the probe (a filtered dimension against a 100 TB fact):
    the probe shuffle then moves only the surviving sliver.
    """
    if how not in ("inner", "left_semi", "leftsemi", "semi"):
        raise ValueError(f"bloom_join requires a match-only join type, got {how!r}")
    bloom = bloom_build(build, on, m_bits, k_hashes)
    pruned = bloom_prune(probe, bloom, on, m_bits, k_hashes)
    return pruned.join(build, on=on, how=how)
