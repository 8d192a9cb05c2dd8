"""Deduplication: exact, fingerprint, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB): every near-dup algorithm here is
candidate-generation-first — hash/band/bucket keys are computed per row
(map-side, codegen), candidates come from an equi-join on the bucket key
(one shuffle on a small key), and only candidate pairs pay the exact
verification cost.  There is never an unbucketed all-pairs join.

Hash functions are md5-based so the DuckDB oracle can reproduce them
bit-for-bit (both engines agree on md5 of UTF-8 text); MinHash minima are
taken over hex strings, which preserves numeric order for fixed-width hex.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tostore_spark.llmops.text import normalized_text
from tostore_spark.vector import distance_column


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, text_field: str = "text",
                id_field: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the minimum id per distinct text.
    One hash-groupBy — the shuffle key is the 32-char digest, not the text."""
    h = F.md5(F.col(text_field))
    return (df.withColumn("text_hash", h)
              .groupBy("text_hash")
              .agg(F.min(F.col(id_field)).alias("keeper_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def fingerprint_dedup(df: DataFrame, text_field: str = "text",
                      id_field: str = "doc_id") -> DataFrame:
    """Near-exact dedup on the normalized-text fingerprint (case/punct/
    whitespace-insensitive)."""
    h = F.md5(normalized_text(F.col(text_field)))
    return (df.withColumn("fp", h)
              .groupBy("fp")
              .agg(F.min(F.col(id_field)).alias("keeper_id"),
                   F.count(F.lit(1)).alias("n_copies")))


# ------------------------------------------------------------- minhash
from tostore_spark.functions.colutil import let_array as _let  # noqa: E402
from tostore_spark.functions.colutil import let_scalar as _let_s  # noqa: E402


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row stages use the full cluster: small inputs
    arrive as one file-partition locally, which would serialize the hash
    work on one core.  Heuristic = file count, upgraded to an estimated
    SPLIT count (bytes / maxPartitionBytes) when files are few — a handful
    of huge splittable parquet files already scans wide, and repartitioning
    them would shuffle the whole corpus for nothing.  No ``df.rdd`` touch
    (that forces plan analysis plus an RDD conversion barrier); for
    non-file-backed frames (tests, in-memory mutations) the repartition is
    cheap by definition."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df
    if files:
        try:
            from tostore_spark.fs import file_size
            raw = spark.conf.get("spark.sql.files.maxPartitionBytes",
                                 str(128 * 1024 * 1024))
            max_pb = _byte_size(spark, raw)
            total = sum(file_size(spark, f) for f in files)
            if total // max_pb >= target:
                return df   # few files, but they scan as >= target splits
        except Exception:
            pass   # size genuinely undeterminable — fall through
    return df.repartition(target)


def _byte_size(spark, raw: str) -> int:
    """Parse a Spark byte-size conf value WITH units ('128m', '1g',
    '134217728b') — the bare rstrip('b') parse silently rejected every
    unit-suffixed value, falling back to a full-corpus repartition at
    exactly the scale the estimate exists to avoid.  Uses Spark's own
    JVM-side parser so semantics match the scan planner's."""
    try:
        return int(spark._jvm.org.apache.spark.network.util.JavaUtils
                   .byteStringAsBytes(raw))
    except Exception:
        units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                 "t": 1 << 40}
        s = raw.strip().lower().removesuffix("b")
        if s and s[-1] in units:
            return int(float(s[:-1]) * units[s[-1]])
        return int(s)


def shingles(text_col: Column, k: int = 5) -> Column:
    """Distinct character k-shingles of the normalized text (normalization
    evaluated once per row via the let-binding)."""

    def _inner(t):
        idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1)))
        return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(k))))

    return _let(normalized_text(text_col), _inner)


# Affine minhash family over one base digest: h_i(s) = (a_i*u + b_i) mod p
# with u = first 32 bits of md5(s).  One md5 per shingle instead of
# num_hashes — the md5 is the dominant cost in the signature stage.
MINHASH_P = 4294967291  # largest 32-bit prime


def _minhash_ab(n: int) -> list[tuple[int, int]]:
    out, state = [], 42
    for _ in range(n):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = state | 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        out.append((a, state))
    return out


def minhash_signature(text_col: Column, num_hashes: int = 16, k: int = 5) -> Column:
    """MinHash signature (array<long>): per hash i, min over shingles of
    (a_i·u + b_i) mod p where u = first-32-bits(md5(shingle)).  Shingle
    array and base digests are let-bound so each is computed exactly once
    per row; a_i·u < 2^63 so the arithmetic stays in exact long range."""
    ab = _minhash_ab(num_hashes)

    def _mins(sh):
        bases = F.transform(
            sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"))

        def _from_bases(bs):
            return F.array(*[
                F.array_min(F.transform(
                    bs, (lambda a, b: lambda u: (F.lit(a) * u + F.lit(b)) % F.lit(MINHASH_P))(a, b)))
                for a, b in ab])

        return _let(bases, _from_bases)

    return _let(shingles(text_col, k), _mins)


def minhash_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Band digests for LSH: md5 over each contiguous row group (signature
    let-bound so it is computed once, not once per band)."""

    def _bands(s):
        outs = []
        for b in range(bands):
            start = b * rows_per_band
            parts = [s.getItem(start + r) for r in range(rows_per_band)]
            outs.append(F.md5(F.concat_ws(",", F.lit(str(b)), *parts)))
        return F.array(*outs)

    return _let(sig, lambda s: _bands(s))


def minhash_band_index(df: DataFrame, text_field: str = "text",
                       id_field: str = "doc_id", num_hashes: int = 16,
                       bands: int = 4, shingle_k: int = 5) -> DataFrame:
    """The (id, band) LSH index frame — the persistable dedup artifact.

    Map-reduce shape instead of higher-order functions: explode shingles
    to rows, scalar md5 per row (whole-stage codegen — HOF lambdas are
    interpreted), then one hash-aggregate computing all num_hashes minima
    and banding them.  At 100 TB this frame is what you write to storage
    (bucketed by band via engine.bucket_table) and reuse across runs —
    incremental dedup then only computes the NEW batch's index."""
    rows_per_band = num_hashes // bands
    df = _spread(df)
    ab = _minhash_ab(num_hashes)
    # Single-parse SQL text builds (same Catalyst trees as the Column
    # chain, one parser call per select instead of hundreds of py4j round
    # trips — cold plan construction drops from ~1.5s to ~0.2s of serial
    # driver time, the same technique vector.py uses for distance exprs).
    k = int(shingle_k)
    from tostore_spark.llmops.text import norm_sql
    norm = norm_sql(f"`{text_field}`")
    shingle_sql = (
        f"flatten(transform(array({norm}), t -> array_distinct("
        f"transform(sequence(1, greatest(length(t) - {k - 1}, 1)),"
        f" i -> substring(t, i, {k})))))")
    sh_rows = df.selectExpr(f"`{id_field}` AS id",
                            f"explode({shingle_sql}) AS s")
    based = sh_rows.selectExpr(
        "id", "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT) AS u")
    mins = based.groupBy("id").agg(*[
        F.expr(f"min(({a} * u + {b}) % {MINHASH_P})").alias(f"h{i}")
        for i, (a, b) in enumerate(ab)])
    band_exprs = ", ".join(
        "md5(concat_ws(',', '{bi}', {cols}))".format(
            bi=bi, cols=", ".join(
                f"h{bi * rows_per_band + r}" for r in range(rows_per_band)))
        for bi in range(bands))
    return mins.selectExpr("id", f"explode(array({band_exprs})) AS band")


def minhash_lsh_pairs(df: DataFrame, text_field: str = "text",
                      id_field: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, shingle_k: int = 5,
                      index: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs: ids sharing at least one LSH band.

    equi-join on the band digest → distinct (a<b) pairs.  The join key is
    a 32-char digest; bucket sizes stay tiny under uniform hashing, so the
    shuffle is balanced by construction.  Pass a prebuilt ``index`` (from
    minhash_band_index, e.g. read back from storage) to skip the signature
    stage entirely.
    """
    if index is None:
        # lazy localCheckpoint barrier: the index materializes at the
        # first action and both self-join branches read those blocks
        # instead of recomputing the signatures; unlike
        # .persist() the blocks are released by the ContextCleaner once the
        # frame is unreferenced, so repeated calls don't pin executor
        # memory.  Trade-off: checkpoint blocks have no lineage, so losing
        # an executor mid-job fails the JOB (retryable) instead of
        # recomputing the lost partitions.  The production path at scale is
        # the WRITTEN index — minhash_band_index persisted to storage and
        # passed back in via ``index=`` — which has neither problem.
        index = minhash_band_index(df, text_field, id_field, num_hashes,
                                   bands, shingle_k).localCheckpoint(eager=False)
    a, b = index.alias("a"), index.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .distinct())


def minhash_lsh_pairs_incremental(new_index: DataFrame,
                                  corpus_index: DataFrame) -> DataFrame:
    """Incremental dedup: candidate pairs between a NEW batch and an
    already-indexed corpus (plus new-vs-new), never rescanning the corpus
    text — only its stored (id, band) index.  Output: (id_new, id_old)
    for cross pairs and (id_a < id_b) within the new batch."""
    n, c = new_index.alias("n"), corpus_index.alias("c")
    cross = (n.join(c, F.col("n.band") == F.col("c.band"))
             .select(F.col("n.id").alias("id_a"), F.col("c.id").alias("id_b"))
             .distinct())
    within = (new_index.alias("a")
              .join(new_index.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.id") < F.col("b.id")))
              .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
              .distinct())
    return cross.unionByName(within).distinct()


# -------------------------------------------------------------- simhash
#: bit value of fingerprint bit j in signed-64 two's complement (bit 63 is
#: the sign bit — same integer both here and in the DuckDB oracle)
def _bitval(j: int) -> int:
    return -(1 << 63) if j == 63 else (1 << j)


def simhash_frame(df: DataFrame, text_field: str = "text",
                  id_field: str = "doc_id", bits: int = 64) -> DataFrame:
    """(id, simhash) in map-reduce shape: explode tokens to rows, ONE md5
    per token row, stage the bits/4 hex digits as scalar int columns, then
    a single hash-aggregate computes all ``bits`` vote sums (map-side
    partial combine — whole-stage codegen, no interpreted higher-order
    functions).  The 64-bit fingerprint lives in a signed long; bit 63 is
    the sign bit, and band extraction masks after the shift so signedness
    never leaks.  Token-less documents keep fingerprint 0 via the left
    join, matching the Column variant."""
    from tostore_spark.llmops.text import tokens

    ndig = (bits + 3) // 4
    base = df.select(F.col(id_field).alias("id"))
    tok = df.select(F.col(id_field).alias("id"),
                    F.explode(tokens(F.col(text_field))).alias("t"))
    staged = tok.select("id", F.md5("t").alias("h")).select(
        "id", *[F.conv(F.substring("h", p + 1, 1), 16, 10).cast("int")
                .alias(f"d{p}") for p in range(ndig)])
    votes = staged.groupBy("id").agg(*[
        F.sum(F.when(F.col(f"d{j // 4}")
                     .bitwiseAND(F.lit(1 << (j % 4))) > 0,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{j}")
        for j in range(bits)])
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0,
                      F.lit(_bitval(j))).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    hashed = votes.select("id", fp.cast("long").alias("simhash"))
    return (base.join(hashed, on="id", how="left")
                .select("id", F.coalesce(F.col("simhash"),
                                         F.lit(0).cast("long")).alias("simhash")))


def simhash(text_col: Column, bits: int = 16) -> Column:
    """SimHash over word tokens as a single Column expression: bit j of
    md5(token) votes ±1; sign of the vote sum becomes bit j.  One
    interpreted higher-order aggregate per bit — fine for small widths in
    expression position; use ``simhash_frame`` (map-reduce, codegen) for
    the 64-bit production path."""
    from tostore_spark.llmops.text import tokens

    if bits > 62:
        raise ValueError("Column simhash caps at 62 bits (signed literal "
                         "range); use simhash_frame for 64-bit")

    def _body(toks):
        # hash each token ONCE (let-bound digest array) — the per-bit
        # aggregates then read substrings of the bound digests; putting
        # md5(t) inside the per-bit lambda would hash every token
        # ``bits`` times (the module's no-hash-work-in-lambdas rule)
        def _from_hashes(hs):
            out = F.lit(0).cast("long")
            for j in range(bits):
                hexpos = j // 4 + 1
                bitpos = j % 4
                votes = F.aggregate(
                    hs, F.lit(0),
                    lambda acc, h: acc + F.when(
                        F.conv(F.substring(h, hexpos, 1), 16, 10)
                         .cast("int").bitwiseAND(F.lit(1 << bitpos)) > 0,
                        F.lit(1)).otherwise(F.lit(-1)))
                out = out + F.when(votes > 0,
                                   F.lit(1 << j)).otherwise(F.lit(0))
            return out

        return _let_s(F.transform(toks, lambda t: F.md5(t)),
                      _from_hashes)

    return _let_s(tokens(text_col), _body)


def simhash_dedup(df: DataFrame, text_field: str = "text",
                  id_field: str = "doc_id", bits: int = 64) -> DataFrame:
    """Group by identical SimHash (bucket key = the hash itself).

    64-bit default: a 16-bit fingerprint has only 65k distinct values, so
    a large corpus collapses into giant buckets; 64 bits keeps buckets
    genuine-duplicate-sized at any corpus scale."""
    h = simhash_frame(_spread(df), text_field, id_field, bits)
    return (h.groupBy("simhash")
              .agg(F.min(F.col("id")).alias("keeper_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def simhash_neardup_pairs(df: DataFrame, text_field: str = "text",
                          id_field: str = "doc_id", bits: int = 64,
                          bands: int = 4,
                          max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming``.

    Scale shape (the standard simhash dedup): split the fingerprint into
    ``bands`` equal bit-bands — by pigeonhole, any pair within Hamming
    distance < bands shares at least one exact band — block on
    (band_index, band_value), then verify bit_count(xor) exactly on the
    candidates.  Requires ``max_hamming < bands`` for full recall.

    64-bit/4-band default = 16-bit band values: ~4 billion distinct
    (band, value) buckets, so the a<b candidate self-join stays linear at
    corpus scale (16-bit/4-band had <=64 buckets — quadratic)."""
    if max_hamming >= bands:
        raise ValueError("pigeonhole recall needs max_hamming < bands")
    width = bits // bands
    mask = (1 << width) - 1
    base = (simhash_frame(_spread(df), text_field, id_field, bits)
            .withColumnRenamed("simhash", "sh"))
    banded = base.select(
        "id", "sh",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(str(b)),
                        F.shiftright(F.col("sh"), b * width)
                         .bitwiseAND(F.lit(mask)).cast("string"))
            for b in range(bands)])).alias("bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     ham.alias("hamming"))
             .filter(F.col("hamming") <= max_hamming)
             .dropDuplicates(["id_a", "id_b"]))


# ------------------------------------------------------ n-gram jaccard
def word_ngrams(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text."""
    from tostore_spark.llmops.text import tokens

    def _body(toks):
        cnt = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
        grams = F.transform(idx, lambda i: F.concat_ws(
            " ", *[toks.getItem(i + j) for j in range(n)]))
        return (F.when(cnt >= n, F.array_distinct(grams))
                 .otherwise(F.array().cast("array<string>")))

    return _let(tokens(text_col), _body)


#: minhash-band blocking parameters for ngram_jaccard_pairs
NGRAM_MH_HASHES = 8
NGRAM_MH_BANDS = 4


def gram_band_column(grams: Column, num_hashes: int = NGRAM_MH_HASHES,
                     bands: int = NGRAM_MH_BANDS) -> Column:
    """LSH band digests of a minhash signature over a gram set — the
    blocking key for near-dup candidate generation.  Same md5-affine family
    as the document minhash, so the oracle reproduces it exactly."""
    ab = _minhash_ab(num_hashes)
    rpb = num_hashes // bands

    def _from_bases(bs):
        mins = [F.array_min(F.transform(
            bs, (lambda a, b: lambda u: (F.lit(a) * u + F.lit(b)) % F.lit(MINHASH_P))(a, b)))
            for a, b in ab]
        outs = []
        for bi in range(bands):
            parts = mins[bi * rpb:(bi + 1) * rpb]
            outs.append(F.md5(F.concat_ws(",", F.lit(str(bi)), *parts)))
        return F.array(*outs)

    def _bases(g):
        return _let(F.transform(g, lambda s: F.conv(
            F.substring(F.md5(s), 1, 8), 16, 10).cast("long")), _from_bases)

    return _let(grams, _bases)


def ngram_jaccard_pairs(df: DataFrame, text_field: str = "text",
                        id_field: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        bucket_field: Column | None = None) -> DataFrame:
    """Jaccard similarity over word n-gram sets for candidate pairs.

    Default blocking is minhash-band LSH over the gram set (uniform digest
    buckets — no key can go quadratic, unlike the earlier token-count-decile
    block where one decile could hold most of a real corpus).  Candidate
    recall follows the LSH S-curve: with 4 bands of 2 rows a pair at
    jaccard 0.8 is banded with p ≈ 0.98.  An explicit ``bucket_field``
    (e.g. a language or domain column) replaces the LSH block.
    """
    base = _spread(df).select(F.col(id_field).alias("id"),
                              word_ngrams(F.col(text_field), n).alias("grams"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    if bucket_field is not None:
        blocked = df.select(F.col(id_field).alias("id"),
                            bucket_field.alias("bucket")) \
                    .join(base, on="id")
    else:
        blocked = (base.filter(F.size("grams") > 0)
                   .select("id", "grams",
                           F.explode(gram_band_column(F.col("grams")))
                            .alias("bucket")))
    a, b = blocked.alias("a"), blocked.alias("b")
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     jac.alias("jaccard"))
             .filter(F.col("jaccard") >= threshold)
             .dropDuplicates(["id_a", "id_b"]))


def containment_pairs(df: DataFrame, text_field: str = "text",
                      id_field: str = "doc_id", n: int = 3,
                      threshold: float = 0.8,
                      bucket_field: Column | None = None) -> DataFrame:
    """ASYMMETRIC containment over word n-gram sets: the fraction of the
    SMALLER document's grams found in the other — the signal for
    doc-in-doc duplication (a post quoted inside a digest, an article
    embedded in a crawl page), which symmetric Jaccard misses whenever
    the containing document is much larger.

    Same minhash-band blocking as ``ngram_jaccard_pairs`` (uniform
    digest buckets; an explicit ``bucket_field`` replaces it).  Output:
    (id_small, id_big, containment) at >= threshold, where id_small is
    the gram-subset side.  Note LSH banding under-recalls highly
    asymmetric pairs (band probability follows Jaccard, which shrinks
    as sizes diverge) — for aggressive containment hunting pass a
    domain/bucket column instead."""
    base = _spread(df).select(F.col(id_field).alias("id"),
                              word_ngrams(F.col(text_field), n).alias("grams"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    size_a = F.size(F.col("a.grams"))
    size_b = F.size(F.col("b.grams"))
    min_sz = F.least(size_a, size_b)
    cont = F.when(min_sz > 0,
                  inter.cast("double") / min_sz.cast("double")) \
            .otherwise(F.lit(0.0))
    small_first = size_a <= size_b
    if bucket_field is not None:
        blocked = df.select(F.col(id_field).alias("id"),
                            bucket_field.alias("bucket")) \
                    .join(base, on="id")
    else:
        blocked = (base.filter(F.size("grams") > 0)
                   .select("id", "grams",
                           F.explode(gram_band_column(F.col("grams")))
                            .alias("bucket")))
    a, b = blocked.alias("a"), blocked.alias("b")
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.when(small_first, F.col("a.id"))
                      .otherwise(F.col("b.id")).alias("id_small"),
                     F.when(small_first, F.col("b.id"))
                      .otherwise(F.col("a.id")).alias("id_big"),
                     cont.alias("containment"))
             .filter(F.col("containment") >= threshold)
             .dropDuplicates(["id_small", "id_big"]))


#: default training-side document-frequency cap for contamination grams —
#: a gram in >10k training docs is boilerplate, not a leaked benchmark
#: passage, and its join bucket would otherwise go quadratic on a crawl
CONTAMINATION_MAX_GRAM_DF = 10_000


def contamination_hot_grams(train: DataFrame, n: int = 5,
                            text_field: str = "text",
                            max_gram_df: int = CONTAMINATION_MAX_GRAM_DF) -> DataFrame:
    """Training-side grams whose document frequency exceeds the cap —
    the (g, df) frame contamination_pairs drops.  Exposed so a pipeline
    can audit WHAT was treated as boilerplate before trusting the pass."""
    tg = train.select(F.explode(word_ngrams(F.col(text_field), n)).alias("g"))
    return (tg.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
              .filter(F.col("df") > max_gram_df))


#: contamination gram-bloom sizing: 16 Mbit = 2 MB broadcast, ~0.1% false
#: positives at 1M benchmark grams (false positives only cost join input,
#: never correctness)
CONTAM_BLOOM_M_BITS = 1 << 24
CONTAM_BLOOM_K = 5


def bench_gram_bloom(bench: DataFrame, n: int = 5,
                     text_field: str = "text",
                     m_bits: int = CONTAM_BLOOM_M_BITS,
                     k_hashes: int = CONTAM_BLOOM_K) -> DataFrame:
    """Persistable Bloom bitmap over the benchmark suite's distinct
    n-grams (functions/bloom.bloom_build artifact).  Build it once when
    the eval suite is frozen, write it next to the suite, and every
    training-corpus decontamination run prunes its gram explosion
    map-side against the 2 MB bitmap instead of shuffling ALL corpus
    grams into the equi-join — on a 100 TB crawl virtually every gram is
    clean, so the prefilter removes almost the entire join input.  Must
    be read back and applied with the SAME (m_bits, k_hashes)."""
    bg = bench.select(F.explode(word_ngrams(F.col(text_field), n)).alias("g"))
    from tostore_spark.functions.bloom import bloom_build

    return bloom_build(bg, "g", m_bits, k_hashes)


def contamination_pairs(train: DataFrame, bench: DataFrame,
                        n: int = 5, min_overlap: int = 2,
                        text_field: str = "text",
                        id_field: str = "doc_id",
                        max_gram_df: int | None = CONTAMINATION_MAX_GRAM_DF,
                        observation=None,
                        bench_bloom: DataFrame | None = None,
                        bloom_prefilter: bool = True,
                        bloom_m_bits: int = CONTAM_BLOOM_M_BITS,
                        bloom_k_hashes: int = CONTAM_BLOOM_K) -> DataFrame:
    """Benchmark-contamination check: training docs sharing at least
    ``min_overlap`` distinct word n-grams with an evaluation doc —
    the standard decontamination pass before a training run.

    Map-reduce shape: both sides explode their distinct n-grams, meet in
    an equi-join on the gram (n >= 5 word grams are near-unique, so gram
    buckets stay tiny), and a hash-aggregate counts shared grams per
    (train, bench) pair.  Output: (train_id, bench_id, n_shared).

    ``max_gram_df`` guards the scale failure mode: a BOILERPLATE gram
    (license header, site template) present in millions of training docs
    makes its join bucket quadratic.  It is ON by default (10_000) because
    decontamination is exactly the job run on the full crawl — dropped
    grams carry no contamination signal (genuinely leaked passages are
    rare on the training side by definition).  Pass ``None`` to disable.
    Pass a ``pyspark.sql.Observation`` as ``observation`` to receive the
    number of capped grams (``n_capped_grams``) for free when the result
    runs — no extra job; or audit them via ``contamination_hot_grams``.

    ``bloom_prefilter`` (default ON — like ``max_gram_df``, the 100 TB
    run is the one that would forget to opt in): prune the training-side
    gram explosion against a Bloom bitmap of the benchmark grams BEFORE
    the join shuffle.  On a full crawl virtually every gram is clean, so
    ~the entire join input dies map-side against a 2 MB broadcast; no
    false negatives exist and false positives die in the exact equi-join,
    so the pair set is bit-identical either way.  Pass a persisted
    ``bench_gram_bloom`` artifact as ``bench_bloom`` to skip rebuilding
    it (it must have been built with the same ``bloom_m_bits``/
    ``bloom_k_hashes``)."""
    tg = train.select(F.col(id_field).alias("train_id"),
                      F.explode(word_ngrams(F.col(text_field), n)).alias("g"))
    bg = bench.select(F.col(id_field).alias("bench_id"),
                      F.explode(word_ngrams(F.col(text_field), n)).alias("g"))
    if bench_bloom is not None or bloom_prefilter:
        from tostore_spark.functions.bloom import bloom_build, bloom_prune

        bloom = (bench_bloom if bench_bloom is not None
                 else bloom_build(bg.select("g"), "g",
                                  bloom_m_bits, bloom_k_hashes))
        tg = bloom_prune(tg, bloom, "g", bloom_m_bits, bloom_k_hashes)
    if max_gram_df is not None:
        hot = (tg.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
                 .filter(F.col("df") > max_gram_df).select("g"))
        if observation is not None:
            hot = hot.observe(observation,
                              F.count(F.lit(1)).alias("n_capped_grams"))
        tg = tg.join(hot, on="g", how="left_anti")
    return (tg.join(bg, on="g")
              .groupBy("train_id", "bench_id")
              .agg(F.count(F.lit(1)).alias("n_shared"))
              .filter(F.col("n_shared") >= min_overlap))


# ------------------------------------------------- embedding near-dup
def planes_for_corpus(n_rows: int, target_bucket: int = 256,
                      floor: int = 8) -> int:
    """Corpus-size-aware LSH plane count PER TABLE: 2^planes sign buckets
    sized so the average bucket holds ~``target_bucket`` vectors.  A fixed
    plane count (the old default of 8 → 256 buckets) goes quadratic once
    the corpus outgrows buckets·target: a trillion-row corpus needs ~32
    planes, not 8.  More planes also collapse single-table recall
    (~(1−θ/π)^planes), which is why blocking uses MULTIPLE tables — see
    ``lsh_policy`` for the (planes, tables) pair that meets both bounds."""
    import math

    return max(floor, math.ceil(math.log2(max(1.0, n_rows / target_bucket))))


#: ceiling on LSH tables — beyond this the candidate stage costs more than
#: it recovers; callers wanting higher recall should verify more candidates
#: per table (larger target_bucket) instead
LSH_MAX_TABLES = 64


def lsh_policy(n_rows: int, target_bucket: int = 256,
               target_recall: float = 0.8,
               max_cosine_distance: float = 0.05,
               floor: int = 8,
               max_tables: int = LSH_MAX_TABLES) -> tuple[int, int]:
    """(planes_per_table, n_tables) sized for BOTH the bucket bound and a
    target pair recall at ``max_cosine_distance``.

    Sign-LSH math: two vectors at angle θ agree on one random hyperplane
    with p = 1 − θ/π, so one table of ``planes`` bits co-buckets them with
    p^planes — which collapses exactly when planes grows with corpus size
    (32 planes at θ≈18° → ~3% recall).  Banded multi-table LSH (the same
    idiom as ``minhash_bands``) fixes it: L independent tables of p planes
    each give recall 1 − (1 − p^planes)^L while each table's buckets stay
    ~n/2^planes.  This returns the smallest L meeting ``target_recall``,
    capped at ``max_tables`` (candidate-stage cost is linear in L)."""
    import math

    p = planes_for_corpus(n_rows, target_bucket, floor)
    theta = math.acos(max(-1.0, min(1.0, 1.0 - max_cosine_distance)))
    r = max(1e-9, 1.0 - theta / math.pi)      # per-plane agreement prob
    per_table = r ** p
    if per_table >= target_recall:
        return p, 1
    if per_table <= 0.0:
        return p, max_tables
    need = math.log(max(1e-12, 1.0 - target_recall)) / math.log(1.0 - per_table)
    return p, max(1, min(max_tables, math.ceil(need)))


def lsh_table_seed(table: int, seed: int = 42) -> int:
    """Per-table hyperplane seed (deterministic, reproducible in the
    DuckDB oracle which regenerates the same planes in Python)."""
    return seed + 7919 * table


def embedding_neardup_pairs(df: DataFrame, vec_field: str = "embedding",
                            id_field: str = "vec_id",
                            group_field: str | None = None,
                            max_cosine_distance: float = 0.05,
                            n_planes: int | None = None,
                            n_tables: int | None = None,
                            target_bucket: int = 256,
                            target_recall: float = 0.8,
                            seed: int = 42) -> DataFrame:
    """Cosine near-duplicates among embeddings.

    Candidates are blocked on `group_field` when given, else on banded
    multi-table sign-LSH: L independent hyperplane tables of p bits each
    (``lsh_policy`` picks (p, L) for the corpus size, bucket bound AND
    ``target_recall`` at ``max_cosine_distance`` — a single table's recall
    decays as ~0.9^p at θ≈18°, so one corpus-sized table silently drops
    almost every true pair).  Each row explodes to L ``"t:signature"``
    block keys; candidates come from the equi-join on the key, are
    DEDUPLICATED on the pair BEFORE verification (a pair found by several
    tables pays the exact-cosine cost once), and only then exact-verified.
    Never all-pairs; candidate volume is linear in L.

    Pass ``n_planes``/``n_tables`` explicitly to skip the one count job
    the policy needs at plan time."""
    from tostore_spark.vector import lsh_bucket_column, random_hyperplanes

    if group_field is None:
        dim_row = df.select(F.size(F.col(vec_field)).alias("d")).take(1)
        dim = dim_row[0]["d"] if dim_row else 0
        if n_planes is None or n_tables is None:
            p, ntab = lsh_policy(df.count(), target_bucket, target_recall,
                                 max_cosine_distance)
            n_planes = n_planes if n_planes is not None else p
            n_tables = n_tables if n_tables is not None else ntab
        buckets = []
        for t in range(n_tables):
            planes = random_hyperplanes(dim, n_planes, seed=lsh_table_seed(t, seed))
            buckets.append(F.concat_ws(
                ":", F.lit(str(t)),
                lsh_bucket_column(vec_field, planes).cast("string")))
        base = df.select(
            F.col(id_field).alias("id"), F.col(vec_field).alias("v"),
            F.explode(F.array(*buckets)).alias("bucket"))
    else:
        base = df.select(F.col(id_field).alias("id"), F.col(vec_field).alias("v"),
                         F.col(group_field).alias("bucket"))
    # norm once per (row, bucket) — never per candidate PAIR (the
    # similarity.cosine_distance_prenorm rationale; bit-identical)
    base = base.withColumn(
        "nv", F.sqrt(F.aggregate(
            F.col("v"), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"))))
    a, b = base.alias("a"), base.alias("b")
    cand = (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
                     F.col("a.nv").alias("na"), F.col("b.nv").alias("nb"))
             .dropDuplicates(["id_a", "id_b"]))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"),
                                 lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos_dist = F.lit(1.0) - dot / (F.col("na") * F.col("nb"))
    return (cand.select("id_a", "id_b", cos_dist.alias("cos_distance"))
                .filter(F.col("cos_distance") <= F.lit(max_cosine_distance)))


# ------------------------------------------------- dedup clustering
def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iterations: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: one ``(id, cluster_id,
    cluster_size)`` row per document that appears in any pair, where
    ``cluster_id`` is the smallest id reachable through any chain of
    pairs.

    Pairwise LSH output is NOT a dedup decision: if A~B and B~C, keeping
    one doc per PAIR still leaves A and C as mutual duplicates with no
    pair row.  The reference's dedup keeps one canonical record per
    duplicate group; the distributed analog is connected components.

    Algorithm: min-label propagation with pointer jumping — each round
    every node adopts the minimum label among itself and its neighbors,
    then contracts ``label <- label(label)``.  The contraction halves the
    remaining tree height, so a chain of N near-dups converges in
    O(log N) rounds, not O(N); each round is two key shuffles.  Lineage
    is cut with an eagerly-reclaimed localCheckpoint per round (same
    trade documented at minhash_lsh_pairs), and the loop exits on the
    first round with no label change.
    """
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(
                 pairs.select(F.col(id_b).alias("src"),
                              F.col(id_a).alias("dst")))
             .distinct()
             .localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    for _ in range(max_iterations):
        nbr_min = (edges.join(labels, edges["dst"] == labels["id"])
                   .groupBy("src").agg(F.min("label").alias("nbr")))
        # __old rides along so the convergence check below is a plain
        # FILTER over the round's checkpoint instead of a join back
        # onto the previous labels (which cost two more exchanges and
        # a dedicated job per round); the checkpoint is lazy, so the
        # isEmpty() action materializes the round AND answers the check
        # in ONE job (was: eager checkpoint job + join-check job).
        stepped = (labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
                   .select(labels["id"],
                           F.least(labels["label"],
                                   F.coalesce(F.col("nbr"), labels["label"])
                                   ).alias("label"),
                           labels["label"].alias("__old")))
        l1, l2 = stepped.alias("l1"), stepped.alias("l2")
        jumped = (l1.join(l2, F.col("l1.label") == F.col("l2.id"), "left")
                  .select(F.col("l1.id").alias("id"),
                          F.coalesce(F.col("l2.label"),
                                     F.col("l1.label")).alias("label"),
                          F.col("l1.__old").alias("__old"))
                  .localCheckpoint(eager=False))
        done = jumped.filter(F.col("label") != F.col("__old")).isEmpty()
        labels = jumped.select("id", "label")
        if done:
            break
    w = Window.partitionBy("cluster_id")
    return (labels.select("id", F.col("label").alias("cluster_id"))
            .withColumn("cluster_size", F.count(F.lit(1)).over(w)))


def dedup_apply(df: DataFrame, pairs: DataFrame, id_field: str = "doc_id",
                id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Deduplicated corpus: keep exactly one document (the smallest id)
    per connected near-dup cluster, drop the rest.  One anti-join against
    the non-canonical cluster members — the corpus itself is scanned
    once and never collected."""
    drop = (dedup_clusters(pairs, id_a=id_a, id_b=id_b)
            .filter(F.col("id") != F.col("cluster_id"))
            .select(F.col("id").alias(id_field)))
    return df.join(drop, on=id_field, how="left_anti")


# ---------------------------------------------------------------- semantic
def semantic_dedup_pairs(emb: DataFrame, n_cells: int = 16,
                         max_distance: float = 0.1,
                         vec_field: str = "embedding",
                         id_field: str = "vec_id",
                         centroids=None) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: cluster the embedding space
    (spherical k-means cells — ``similarity.ivf_build``, a map-side
    Column expression), then compare pairs ONLY within a cell and keep
    those at cosine distance <= ``max_distance``.

    The cell is the blocking key, so the join shuffles on ``cell_id``
    and the quadratic term is bounded per cell (corpus/n_cells rows) —
    never all-pairs.  Scale n_cells with the corpus to hold the
    per-bucket bound; cross-cell boundary pairs are out of scope by
    construction (the SemDeDup contract: duplicates are sought within a
    semantic cluster, arXiv:2303.09540).  Reference intent: the vector
    index exists to stop duplicate content reaching training
    (ngh_graph_engine.dart:14-80); this is the corpus-level sweep.
    """
    from tostore_spark.llmops.similarity import (_norm,
                                                 cosine_distance_prenorm,
                                                 ivf_build)
    indexed, _ = ivf_build(emb, n_cells=n_cells, vec_field=vec_field,
                           id_field=id_field, centroids=centroids)
    # norms once per row, never per in-cell pair
    # (similarity.cosine_distance_prenorm rationale; bit-identical)
    indexed = indexed.withColumn("__n", _norm(F.col(vec_field)))
    a = indexed.select(F.col(id_field).alias("id_a"),
                       F.col(vec_field).alias("__va"),
                       F.col("__n").alias("__na"), "cell_id")
    b = indexed.select(F.col(id_field).alias("id_b"),
                       F.col(vec_field).alias("__vb"),
                       F.col("__n").alias("__nb"), "cell_id")
    return (a.join(b, "cell_id")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("distance",
                         cosine_distance_prenorm(
                             F.col("__va"), F.col("__vb"),
                             F.col("__na"), F.col("__nb")))
             .filter(F.col("distance") <= F.lit(float(max_distance)))
             .select("id_a", "id_b", "distance"))


def semantic_dedup(emb: DataFrame, n_cells: int = 16,
                   max_distance: float = 0.1,
                   vec_field: str = "embedding", id_field: str = "vec_id",
                   centroids=None) -> DataFrame:
    """Deduplicated corpus under semantic near-duplication: one canonical
    row (smallest id) per connected cluster of pairs, everything else
    dropped — ``semantic_dedup_pairs`` → connected components →
    anti-join, all key-partitioned shuffles."""
    pairs = semantic_dedup_pairs(emb, n_cells=n_cells,
                                 max_distance=max_distance,
                                 vec_field=vec_field, id_field=id_field,
                                 centroids=centroids)
    return dedup_apply(emb, pairs, id_field=id_field)


def decontaminate(train: DataFrame, bench: DataFrame,
                  n: int = 5, min_overlap: int = 2,
                  text_field: str = "text", id_field: str = "doc_id",
                  max_gram_df: int | None = CONTAMINATION_MAX_GRAM_DF,
                  bench_bloom: DataFrame | None = None) -> DataFrame:
    """The decontaminated training corpus: drop every training document
    that shares >= ``min_overlap`` distinct word n-grams with ANY
    benchmark document (``contamination_pairs``), keep the rest.  One
    anti-join on the distinct contaminated train ids — the corpus is
    scanned once and nothing is collected.  Pass a persisted
    ``bench_gram_bloom`` artifact as ``bench_bloom`` to prune the gram
    explosion against a frozen eval suite without rebuilding the bitmap
    (the prefilter itself is on by default either way)."""
    bad = (contamination_pairs(train, bench, n=n, min_overlap=min_overlap,
                               text_field=text_field, id_field=id_field,
                               max_gram_df=max_gram_df,
                               bench_bloom=bench_bloom)
           .select(F.col("train_id").alias(id_field)).distinct())
    return train.join(bad, on=id_field, how="left_anti")


def _span_rows(df: DataFrame, k: int, text_field: str,
               id_field: str) -> DataFrame:
    """(id, span_pos, span, h) rows: each document split into
    NON-overlapping ``k``-word spans, position-indexed, md5-keyed —
    the shared explode stage of the repeated-span family."""
    def _spans(w):
        # w is the let-bound word array: the split runs once per row.
        # Referencing the raw split expression inside the lambda would
        # re-split the text per SPAN (no CSE inside lambda bodies) —
        # the O(n^2) shape the lm.py explode fix measured at ~10x.
        n_spans = F.ceil(F.size(w) / F.lit(k)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), F.greatest(n_spans, F.lit(1)) - 1),
            lambda i: F.array_join(F.slice(w, i * k + 1, k), " "))

    spans = _let(F.split(F.col(text_field), " "), _spans)
    # spread: the split+transform explode is CPU-heavy per row and a
    # one-file corpus serializes it on one core (no-op on wide scans)
    return (_spread(df).select(F.col(id_field).alias("id"),
                               F.posexplode(spans))
              .withColumnRenamed("pos", "span_pos")
              .withColumnRenamed("col", "span")
              .withColumn("h", F.md5(F.col("span"))))


def _rebuild_clean(joined: DataFrame, max_doc_freq: int) -> DataFrame:
    """Per-document ordered rebuild from (id, span_pos, span, span_df)
    rows: survivors rejoin in position order; dropped spans counted."""
    return (joined.groupBy("id")
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.when(
                             F.col("span_df") <= max_doc_freq,
                             F.struct(F.col("span_pos").alias("p"),
                                      F.col("span").alias("s"))))),
                         lambda st: st["s"]),
                     " ").alias("clean_text"),
                 F.count(F.lit(1)).alias("n_spans"),
                 F.sum(F.when(F.col("span_df") > max_doc_freq, 1)
                       .otherwise(0)).alias("n_dropped")))


def remove_repeated_spans(df: DataFrame, k: int = 8, max_doc_freq: int = 1,
                          text_field: str = "text",
                          id_field: str = "doc_id") -> DataFrame:
    """Corpus-level repeated-span removal (the C4/boilerplate pass: drop
    text spans that recur across documents — headers, footers, license
    blocks — keeping each document's unique content).

    Mechanics: each document splits into non-overlapping ``k``-word
    spans (``_span_rows``); a span whose text occurs in more than
    ``max_doc_freq`` distinct documents is dropped from every document;
    the survivors rejoin in order.  Output: (id, clean text, n_spans,
    n_dropped).

    Scale shape: one posexplode (linear in corpus words), one two-stage
    distinct-count aggregate on the span hash (uniform md5 keys — no hot
    key), one equi-join back on the hash, one per-document group-by.  No
    pairwise stage anywhere; span df replaces the suffix-array pass the
    single-node formulation would need.
    """
    ex = _span_rows(df, k, text_field, id_field)
    freq = (ex.groupBy("h")
              .agg(F.count_distinct(F.col("id")).alias("span_df")))
    return _rebuild_clean(ex.join(freq, on="h"), max_doc_freq)


def span_freq_index(df: DataFrame, k: int = 8, text_field: str = "text",
                    id_field: str = "doc_id") -> DataFrame:
    """The persistable (span hash, document frequency) artifact behind
    ``remove_repeated_spans`` — write it once per corpus snapshot and
    reuse it across runs, exactly like ``minhash_band_index``: cleaning
    a NEW batch against a trillion-token corpus then costs one pass over
    the batch plus an equi-join against the stored frequencies, never a
    corpus rescan."""
    return (_span_rows(df, k, text_field, id_field)
            .groupBy("h")
            .agg(F.count_distinct(F.col("id")).alias("span_df")))


def remove_repeated_spans_with_index(df: DataFrame, freq: DataFrame,
                                     k: int = 8, max_doc_freq: int = 1,
                                     text_field: str = "text",
                                     id_field: str = "doc_id") -> DataFrame:
    """``remove_repeated_spans`` against a prebuilt ``span_freq_index``
    (read back from storage): spans absent from the index count as df=0
    (kept).  The batch is scanned once; the corpus is never touched."""
    ex = _span_rows(df, k, text_field, id_field)
    joined = (ex.join(freq, on="h", how="left")
                .withColumn("span_df", F.coalesce(F.col("span_df"),
                                                  F.lit(0))))
    return _rebuild_clean(joined, max_doc_freq)


def winnow_fingerprints(df: DataFrame, k: int = 3, window: int = 4,
                        text_field: str = "text",
                        id_field: str = "doc_id") -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03):
    the minimum k-gram hash of every sliding window of ``window``
    consecutive word-k-gram hashes, deduplicated per document — a tiny
    position-robust sketch with the winnowing guarantee: any shared run
    of >= window+k-1 tokens produces at least one shared fingerprint,
    so PARTIAL overlaps are detectable without comparing full texts.
    (Value-min variant: the fingerprint VALUE set is identical however
    positional ties break, so both engines agree.)

    Output: (id, fp) rows.  Map-reduce shape (the minhash lesson: no
    hash work inside higher-order lambdas, where Catalyst performs no
    CSE and a windowed array-min would re-evaluate the whole md5 gram
    array PER WINDOW — measured 60x slower): explode grams to rows,
    ONE scalar md5 each (codegen), sliding min via a doc-partitioned
    window frame."""
    grams = _let(
        F.split(F.lower(F.col(text_field)), " "),
        # let-bound so the split runs once per row, not once per gram
        lambda toks: F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.size(toks) - (k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " ")))
    # spread: gram explode + per-gram md5 is CPU-heavy per row and a
    # one-file corpus serializes it on one core (no-op on wide scans)
    ex = (_spread(df).select(F.col(id_field).alias("id"),
                             F.posexplode(grams))
            .withColumnRenamed("pos", "gpos")
            .withColumnRenamed("col", "gram"))
    ex = ex.withColumn(
        "h", F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long"))
    w_min = (Window.partitionBy("id").orderBy("gpos")
             .rowsBetween(Window.currentRow, window - 1))
    w_doc = Window.partitionBy("id")
    return (ex.withColumn("fp", F.min("h").over(w_min))
              .withColumn("__m", F.count(F.lit(1)).over(w_doc))
              # 0-based gpos: window j starts at 0..m-window (clamped
              # to the single full-doc window when m < window)
              .filter(F.col("gpos")
                      <= F.greatest(F.col("__m") - window, F.lit(0)))
              .select("id", "fp").distinct())


def winnow_overlap_pairs(df: DataFrame, k: int = 3, window: int = 4,
                         min_shared: int = 2, max_fp_df: int = 100,
                         text_field: str = "text",
                         id_field: str = "doc_id") -> DataFrame:
    """Partial-overlap candidate pairs from winnowing sketches: documents
    sharing >= ``min_shared`` fingerprints.  Fingerprints present in more
    than ``max_fp_df`` documents are boilerplate (a stock phrase) and are
    dropped before the self-join — the same hot-bucket cap as the
    contamination pass, so no fingerprint bucket can go quadratic.
    Output: (id_a < id_b, n_shared)."""
    fp = winnow_fingerprints(df, k=k, window=window,
                             text_field=text_field, id_field=id_field)
    hot = (fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
             .filter(F.col("df") > max_fp_df))
    cold = fp.join(hot, on="fp", how="left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
