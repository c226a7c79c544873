"""Deduplication operators: exact, word-set signature, MinHash+LSH, SimHash,
n-gram Jaccard — the scale path for training-data cleaning.

Design for 100 TB:
- signatures are computed scan-side with JVM expressions (xxhash64 /
  md5 over arrays — whole-stage codegen, no Python);
- candidate generation is an equi-join on (band, band_hash) LSH buckets —
  a shuffle on small fixed-width keys, never an O(n^2) cross join;
- only candidates pay the exact-Jaccard verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------- exact ------

def text_signature(col: Column) -> Column:
    """md5 of the exact text — exact-duplicate key."""
    return F.md5(col.cast("binary"))


def wordset_signature(col: Column) -> Column:
    """md5 of the sorted distinct word set — order/multiplicity-insensitive
    near-dup key (bag-of-words collapse)."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(col, " ")))).cast(
            "binary"
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per identical text (hash-groupBy; map-side
    partial min, one shuffle)."""
    sig = df.select(
        F.col(id_col), text_signature(F.col(text_col)).alias("sig")
    )
    keep = sig.groupBy("sig").agg(F.min(id_col).alias(id_col))
    # AQE upgrades this to a broadcast join when the keeper set is small
    return df.join(keep, id_col, "semi")


# ------------------------------------------------------------- MinHash ------

_SLICE_MAX = 1 << 30


def word_ngrams(col: Column, n: int = 2, keep_short: bool = True) -> Column:
    """Word n-gram array (duplicates kept, document order) built by zipping
    ``n`` shifted copies of the token array — each shifted copy is an
    ordinary expression child evaluated once per row, unlike the
    ``transform(sequence(...), i -> ...slice(split(...)...))`` formulation
    whose lambda re-evaluates ``split`` per element (O(tokens * text_len)
    per row; see :func:`shingles`).

    ``keep_short=True``: a document with fewer than ``n`` tokens yields ONE
    short gram of all its tokens (the ``greatest(..., 1)`` index-loop edge
    case); ``False``: such documents yield an empty array (the bare
    ``size - n + 1`` edge case)."""
    toks = F.split(col, " ")
    z = toks
    for k in range(1, n):
        z = F.zip_with(
            z, F.slice(toks, k + 1, _SLICE_MAX),
            lambda acc, t: F.concat_ws(" ", acc, t),
        )
    length = F.size(toks) - n + 1
    if keep_short:
        return F.slice(z, 1, F.greatest(length, F.lit(1)))
    return F.slice(z, 1, F.greatest(length, F.lit(0)))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array, built by zipping ``n`` shifted copies of
    the token array (zip_with pads the short side with null; concat_ws
    skips nulls, so the <n-token edge rows come out exactly like the
    index-loop formulation this replaces).

    The obvious ``transform(sequence(...), i -> concat_ws(slice(toks,
    i+1, n)))`` re-evaluates ``split(text)`` for EVERY array element —
    higher-order-function lambdas run interpreted with no common-
    subexpression elimination, so shingling was O(tokens * text_len) per
    row and dominated the whole MinHash pipeline (measured 1.45s vs
    0.42s over sf0.1 documents). Here every shifted copy is an ordinary
    expression child, evaluated once per row; output arrays are
    element-for-element identical (verified at sf0.001/0.01/0.1)."""
    return F.array_distinct(word_ngrams(col, n, keep_short=True))


def _minhash_at(sh: Column, i: int) -> Column:
    # NB: the lambda must be unary — pyspark's transform() feeds a second
    # lambda parameter the ARRAY INDEX, which would silently shadow a
    # default-arg capture of i
    return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(i))))


def minhash_signature(col: Column, k: int = 64, shingle_n: int = 3) -> Column:
    """k-permutation MinHash over shingles, entirely JVM-side:
    sig[i] = min over shingles of xxhash64(shingle, seed=i)."""
    sh = shingles(col, shingle_n)
    return F.array(*[_minhash_at(sh, i) for i in range(k)])


def minhash_bands(sig_col: Column, bands: int = 16, rows: int = 4) -> Column:
    """array<struct<band:int, bh:bigint>> — LSH band hashes."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[sig_col[b * rows + r] for r in range(rows)]
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter).cast("double")


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature table via explode + grouped min.

    One shingle-construction pass, then k min-aggregations over the exploded
    (id, shingle) rows — map-side partial aggregation keeps the shuffle at
    one row per (id); this is the plan that survives 100 TB, unlike k
    re-evaluations of the shingle expression per row.

    The signature values changed in round 6: the k permutation hashes
    now derive from one 8-byte base hash per shingle. The emitted pair
    sets were verified identical to the previous family only at the
    fixture scales sf0.001, sf0.01 and sf0.1; on other corpora the LSH
    candidate sets, and so the pairs, can differ slightly."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    # hash the shingle STRING once, then derive the k permutation values
    # from the 8-byte base hash: xxhash64(long, seed) processes a fixed
    # 8 bytes instead of re-hashing the ~20-char shingle k times. The
    # signature values change, but MinHash only needs a good hash family:
    # candidate recall is unchanged (1-(1-t^r)^b) and every candidate is
    # verified by exact shingle Jaccard, so the emitted pairs are
    # identical (oracle-verified at sf0.001/0.01/0.1 against the exact
    # O(n^2) DuckDB twin).
    hashed = sh.select("id", F.xxhash64("s").alias("hs"))
    aggs = [
        F.min(F.xxhash64("hs", F.lit(i))).alias(f"h{i}") for i in range(k)
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    k: int = 64,
    bands: int = 16,
    rows: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 200,
    observation=None,
) -> DataFrame:
    """Near-duplicate pairs (id1 < id2, exact shingle-Jaccard >= threshold).

    shingle -> minhash -> band -> bucket-join -> verify: the standard LSH
    plan. Band buckets carry only (id, band, bh) — fixed-width keys; the
    shingle arrays are joined back onto the (deduplicated) candidate pairs
    only, so wide arrays never ride the bucket shuffle.

    ``max_bucket`` caps in-bucket pair expansion: one degenerate hot bucket
    (boilerplate-identical docs) would otherwise land every id on one
    reducer and emit O(n^2) pairs. Capped buckets are DROPPED, not split —
    standard LSH practice, since a bucket that hot is (near-)identical text
    better handled by exact dedup first. Never silently: pass a
    ``pyspark.sql.Observation`` to get ``dropped_buckets`` /
    ``max_bucket_size`` / ``n_buckets`` piggybacked on the same job (no
    second action) for the run's lineage manifest. Caveat: if the FINAL
    result is empty, AQE's empty-relation propagation can prune the observed
    node and ``Observation.get`` fails — disable AQE for that run or accept
    metrics only on non-empty outputs."""
    sigs = minhash_signatures_df(df, text_col, id_col, k, shingle_n)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(
                    "bh"
                ),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("id", F.explode(band_cols).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    # single-pass candidate generation: group each LSH bucket and expand the
    # i<j pairs in-bucket (a self-join would execute the signature
    # aggregation twice and shuffle it twice)
    ids = F.array_sort(F.collect_list("id"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    grouped = (
        banded.groupBy("band", "bh")
        .agg(ids.alias("ids"))
        .withColumn("n", F.size("ids"))
    )
    if observation is not None:
        grouped = grouped.observe(
            observation,
            F.count_if(F.col("n") > max_bucket).alias("dropped_buckets"),
            F.max("n").alias("max_bucket_size"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    cand = (
        grouped.filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    sh_sets = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    return (
        cand.join(sh_sets.withColumnsRenamed({"id": "id1", "sh": "sh1"}), "id1")
        .join(sh_sets.withColumnsRenamed({"id": "id2", "sh": "sh2"}), "id2")
        .withColumn("jaccard", F.round(jaccard(F.col("sh1"), F.col("sh2")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# -------------------------------------------------------------- SimHash -----

def simhash(col: Column, bits: int = 64) -> Column:
    """64-bit SimHash over word tokens, pure JVM: per-bit majority vote of
    xxhash64(token) bits.

    Single ``aggregate`` pass accumulating all 64 bit-counts at once
    (O(bits*tokens) work, ONE scan of the hash array, small codegen tree) —
    the previous form ran 64 separate ``filter`` passes over the array per
    row, a giant expression tree re-scanning tokens per bit."""
    toks = F.array_distinct(F.split(col, " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    zero = F.transform(idx, lambda _: F.lit(0).cast("long"))
    counts = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc, idx, lambda a, b: a + F.bit_get(h, b).cast("long")
        ),
    )
    # bit b joins the simhash iff count*2 >= n_tokens; contribute 2^b
    # (powers of two are exact in double; b=63 is the long sign bit)
    terms = F.zip_with(
        counts,
        idx,
        lambda c, b: F.when(
            c * 2 >= n,
            F.when(b == bits - 1, F.lit(-(2 ** (bits - 1))).cast("long")).otherwise(
                F.pow(F.lit(2.0), b.cast("double")).cast("long")
            ),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        terms, F.lit(0).cast("long"), lambda a, x: a.bitwiseOR(x)
    )


def simhash_md5(col: Column) -> Column:
    """SimHash whose per-token 64-bit hash is the first 16 hex chars of
    ``md5(token)`` — bit-for-bit expressible in ANSI SQL (DuckDB oracle
    twin), unlike the ``xxhash64`` fast path in :func:`simhash`.

    Returns the signature as a 16-hex-char string; bit ``b`` (0 = MSB of
    the first hex char) is the majority vote of bit ``b`` across the
    distinct word tokens' hashes.  The hash is carried as two exact
    32-bit halves so every shift is a power-of-two double division
    (exact up to 2**31 — no long-shift builtin needed inside the lambda).
    Same JVM-only single-``aggregate`` shape as :func:`simhash`:
    one scan of the token array accumulating all 64 bit-counts."""
    toks = F.array_distinct(F.split(col, " "))
    n = F.size(toks)
    halves = F.transform(
        toks,
        lambda t: F.struct(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
            .cast("long").alias("hi"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10)
            .cast("long").alias("lo"),
        ),
    )
    idx = F.sequence(F.lit(0), F.lit(63))
    zero = F.transform(idx, lambda _: F.lit(0).cast("long"))

    def _bit(h: Column, b: Column) -> Column:
        word = F.when(b < 32, h.hi).otherwise(h.lo)
        shift = F.when(b < 32, 31 - b).otherwise(63 - b).cast("double")
        return F.floor(word / F.pow(F.lit(2.0), shift)).cast("long") % 2

    counts = F.aggregate(
        halves, zero,
        lambda acc, h: F.zip_with(acc, idx, lambda a, b: a + _bit(h, b)),
    )

    def _word(lo_b: int, hi_b: int) -> Column:
        terms = F.zip_with(
            counts, idx,
            lambda c, b: F.when(
                (b >= lo_b) & (b <= hi_b) & (c * 2 >= n),
                F.pow(F.lit(2.0), (31 - (b - lo_b)).cast("double"))
                .cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)

    return F.format_string("%08x%08x", _word(0, 31), _word(32, 63))


def simhash_md5_buckets(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        prefix_hex: int = 4) -> DataFrame:
    """doc -> (simhash_hex, bucket = leading ``prefix_hex`` hex chars) —
    the oracle-checkable twin of :func:`simhash_buckets` (same banded
    hamming-search layout, md5-derived bits).

    Shape: explode distinct tokens -> one md5 per token -> 64 bit-count
    aggregations (``sum(bit_get(...))`` — plain codegen) -> majority vote
    assembled into the hex words. This mirrors the DuckDB oracle's own
    unnest/GROUP BY formulation and replaces the previous per-row
    ``aggregate(zip_with(...))`` expression, whose interpreted 64-wide
    lambda per token (and double evaluation across the two hex words)
    measured 12.3 s at sf0.1 vs 1.3 s for this plan. Bit arithmetic is
    exact-identical: hi/lo are < 2^32 so ``floor(word / 2^shift) % 2 ==
    bit_get(word, shift)``, counts and majority are integer, and the word
    sums add exact powers of two (oracle-verified at every SF)."""
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    h = df.select(
        F.col(id_col),
        F.size(toks).alias("n"),
        F.explode(toks).alias("t"),
    ).select(
        id_col, "n",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("long").alias("lo"),
    )
    aggs = [
        F.sum(
            F.bit_get(
                F.col("hi") if b < 32 else F.col("lo"),
                F.lit(31 - b if b < 32 else 63 - b),
            ).cast("long")
        ).alias(f"c{b}")
        for b in range(64)
    ]
    cnt = h.groupBy(id_col, "n").agg(*aggs)

    def _word(lo_b: int, hi_b: int) -> Column:
        total = F.lit(0).cast("long")
        for b in range(lo_b, hi_b + 1):
            total = total + F.when(
                2 * F.col(f"c{b}") >= F.col("n"),
                F.lit(1 << (31 - (b - lo_b))).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        return total

    out = cnt.select(
        F.col(id_col),
        F.format_string("%08x%08x", _word(0, 31), _word(32, 63)).alias(
            "simhash_hex"
        ),
    )
    return out.withColumn("bucket", F.substring("simhash_hex", 1, prefix_hex))


def simhash_buckets(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", prefix_bits: int = 16) -> DataFrame:
    """doc -> (simhash, bucket = top prefix_bits) for banded hamming search.

    Same explode + ``sum(bit_get(...))`` shape as
    :func:`simhash_md5_buckets` (the per-row ``aggregate(zip_with(...))``
    lambda in :func:`simhash` runs interpreted per token — 2.4 s vs 0.6 s
    at sf0.1). Values are bit-identical to :func:`simhash` (LSB bit
    indexing, integer counts, disjoint power-of-two terms summed — which
    equals the bitwise OR, including the b=63 sign-bit term); pinned by
    tests/test_r06_optimizations.py. A NULL text keeps its row with a
    NULL ``simhash`` and ``bucket``, as the column expression gives: its
    null token array explodes (outer) to one NULL token, whose hash stays
    NULL (``xxhash64(NULL)`` is 42, so it is not hashed), so every bit
    count sums to NULL."""
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    h = df.select(
        F.col(id_col), F.size(toks).alias("n"),
        F.explode_outer(toks).alias("t"),
    ).select(
        id_col, "n",
        F.when(F.col("t").isNotNull(), F.xxhash64("t")).alias("h"),
    )
    aggs = [
        F.sum(F.bit_get("h", F.lit(b)).cast("long")).alias(f"c{b}")
        for b in range(64)
    ]
    cnt = h.groupBy(id_col, "n").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(64):
        term = F.lit(-(2 ** 63) if b == 63 else 1 << b).cast("long")
        sig = sig + F.when(
            2 * F.col(f"c{b}") >= F.col("n"), term
        ).otherwise(F.lit(0).cast("long"))
    sig = F.when(F.col("c0").isNotNull(), sig)  # NULL text -> NULL
    return cnt.select(
        F.col(id_col),
        sig.alias("simhash"),
        F.shiftrightunsigned(sig, 64 - prefix_bits).alias("bucket"),
    )


def jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join on word-``shingle_n``-gram-set
    Jaccard >= ``threshold``
    — the AllPairs/PPJoin prefix-filtering shape (Bayardo et al., WWW'07),
    an operator Spark has no native primitive for.

    Prefix-filter soundness: with prefix size ``|S| - ceil(t*|S|) + 1``,
    a pair sharing NO token inside one side's prefix has intersection
    <= ceil(t*|S|) - 1 < t*|S| <= t*|union|, i.e. Jaccard < t — so joining
    each document's prefix tokens against ALL tokens of lexically-later
    documents generates every qualifying pair (ANY fixed prefix subset of
    that size is sound; ordering prefixes by ascending global token
    frequency just minimizes candidates, since rare tokens join few
    partners). Exact Jaccard verification then runs on the deduplicated
    candidates only.

    Scale shape: token-frequency ranking and the candidate join shuffle on
    TOKENS (skew bounded by prefixes holding each doc's rarest tokens);
    no cartesian anywhere; verification joins are id-keyed. Unlike the
    MinHash path this is exact — use it when misses are unacceptable and
    the token vocabulary is wide; MinHash when approximate recall is fine.
    """
    toks = shingles(F.col(text_col), shingle_n)
    docs = df.select(
        F.col(id_col).alias("id"), toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    tok = docs.select("id", F.explode("toks").alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("f"))
    ranked = tok.join(freq, "t")
    ordered = ranked.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("f", "t"))).alias("o"),
        F.count("*").alias("n"),
    )
    prefix = ordered.select(
        "id",
        F.explode(
            F.expr(
                "slice(transform(o, s -> s.t), 1, "
                f"cast(n - ceil({threshold} * n) + 1 as int))"
            )
        ).alias("t"),
    )
    cand = (
        prefix.alias("p")
        .join(
            tok.alias("q"),
            (F.col("p.t") == F.col("q.t")) & (F.col("p.id") < F.col("q.id")),
        )
        .select(F.col("p.id").alias("id1"), F.col("q.id").alias("id2"))
        .distinct()
    )
    # verification from the raw docs projection: measured FASTER than both
    # alternatives — reusing the frequency-ranked arrays re-runs ordered's
    # final sort-agg once per join side (7.6 -> 8.8 s at sf0.1), and a
    # localCheckpoint of the ranked table costs more than it saves
    # (15.5 s) — the scan+shingle re-evaluation is the cheap branch now
    # that shingling is zip_with-based
    a = docs.select(
        F.col("id").alias("id1"), F.col("toks").alias("t1"),
        F.col("n").alias("n1"),
    )
    b = docs.select(
        F.col("id").alias("id2"), F.col("toks").alias("t2"),
        F.col("n").alias("n2"),
    )
    inter = F.size(F.array_intersect("t1", "t2"))
    jac = inter / (F.col("n1") + F.col("n2") - inter).cast("double")
    return (
        cand.join(a, "id1")
        .join(b, "id2")
        .filter(jac >= threshold)
        .select("id1", "id2", F.round(jac, 6).alias("jac"))
        .orderBy("id1", "id2")
    )


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT directional containment self-join: ordered pairs (id1, id2)
    with ``|S1 ∩ S2| / |S1| >= threshold`` over word-shingle sets — "id1's
    content is (mostly) contained in id2": boilerplate/quote/subset
    detection, the asymmetric cousin of :func:`jaccard_join`.

    Same prefix-filter argument, one-sided: if S1 shares no token within
    its ``|S1| - ceil(t*|S1|) + 1`` rarest shingles, the intersection is
    at most ``ceil(t*|S1|) - 1 < t*|S1|``, so containment < t. Candidates
    therefore join prefix(S1) against ALL tokens of every other document
    (both directions — containment is not symmetric); exact verification
    on deduplicated candidates; no cartesian."""
    toks = shingles(F.col(text_col), shingle_n)
    docs = df.select(
        F.col(id_col).alias("id"), toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    tok = docs.select("id", F.explode("toks").alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("f"))
    ordered = tok.join(freq, "t").groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("f", "t"))).alias("o"),
        F.count("*").alias("n"),
    )
    prefix = ordered.select(
        "id",
        F.explode(
            F.expr(
                "slice(transform(o, s -> s.t), 1, "
                f"cast(n - ceil({threshold} * n) + 1 as int))"
            )
        ).alias("t"),
    )
    cand = (
        prefix.alias("p")
        .join(
            tok.alias("q"),
            (F.col("p.t") == F.col("q.t")) & (F.col("p.id") != F.col("q.id")),
        )
        .select(F.col("p.id").alias("id1"), F.col("q.id").alias("id2"))
        .distinct()
    )
    a = docs.select(
        F.col("id").alias("id1"), F.col("toks").alias("t1"),
        F.col("n").alias("n1"),
    )
    b = docs.select(F.col("id").alias("id2"), F.col("toks").alias("t2"))
    inter = F.size(F.array_intersect("t1", "t2"))
    cont = inter / F.col("n1").cast("double")
    return (
        cand.join(a, "id1")
        .join(b, "id2")
        .filter(cont >= threshold)
        .select("id1", "id2", F.round(cont, 6).alias("containment"))
        .orderBy("id1", "id2")
    )


# ------------------------------------------------- connected components -----

def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id1",
    dst: str = "id2",
    max_iterations: int = 20,
) -> DataFrame:
    """Duplicate-CLUSTER resolution: (node, cluster_id) where cluster_id
    is the minimum node id reachable through the near-dup edge set — the
    canonical "keep one document per duplicate cluster" operator a
    training pipeline runs after pair generation (the reference stops at
    per-key groups, dedup.py:35; clusters close the transitive gap:
    A~B, B~C => {A,B,C} even when A~C was never a candidate pair).

    Algorithm: iterative hash-min label propagation. Every round each
    node takes the minimum label among itself and its neighbours — one
    shuffle join + one partial-aggregated groupBy per round, converging
    in <= diameter(component) rounds. Duplicate clusters are
    near-cliques (diameter 2-3 in practice), so the loop exits after a
    handful of rounds; ``max_iterations`` bounds adversarial chains.

    100-TB notes: state per round is (node, label) — narrow; the
    neighbour-min groupBy does map-side partial aggregation; lineage is
    truncated every round with localCheckpoint so plans stay O(1); the
    convergence probe is a LIMIT 1 existence check, not a full count.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    )
    for _ in range(max_iterations):
        nbr = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        upd = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("new_label"),
                (
                    F.coalesce("nbr_label", F.col("label")) < F.col("label")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        labels = upd.select("node", F.col("new_label").alias("label"))
        if upd.where("changed").limit(1).count() == 0:
            break
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id1",
    dst: str = "id2",
    max_iterations: int = 20,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the SCALE path for adversarial duplicate chains. Hash-min label
    propagation (``connected_components``) needs diameter(component)
    rounds: a 1M-node near-dup chain (e.g. shingled boilerplate drifting
    one token per page) would run 1M shuffles. Star operations converge
    in O(log n) rounds on any graph:

    - large-star: every node u links its LARGER neighbours to the
      minimum of its neighbourhood (incl. itself)
    - small-star: every node u links its smaller-or-equal neighbours
      (and itself) to that minimum

    Both are one groupBy + one generator expression per round; edge
    count never grows beyond the input (each emitted edge replaces one
    inspected edge). Terminates when the edge set is a fixed point
    (every edge already (v, component-min)); isolated nodes come back
    from the final left join against ``nodes``.

    Output contract matches ``connected_components`` exactly:
    (id_col, cluster_id = component minimum) — equality property-tested
    against hash-min and an independent union-find oracle in
    tests/test_training_ops.py.
    """
    e = (
        edges.select(
            F.greatest(src, dst).alias("u"), F.least(src, dst).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # cheap fixed-point probe: (count, order-independent checksum) —
    # two scalar aggregates instead of a two-sided except (which would
    # shuffle the full edge set twice per round)
    def _sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: exact and overflow-free under
            # ANSI mode (a long sum of xxhash64 values throws)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = _sig(e)
    for _ in range(max_iterations):
        # ---- large-star: every node links its LARGER neighbours to
        # min(neighbourhood ∪ {self}). Join formulation — NO per-node
        # neighbour arrays (a collect_set star center would hold the
        # whole component in one row at 100 TB); just a min-aggregate
        # and a re-join on the same key (co-partitioned, AQE reuses the
        # exchange).
        sym = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        # emitted edges are (bigger-node, neighbourhood-min): already
        # canonical u > v, so small-star needs no re-orientation
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: every node links its smaller neighbours
        # (and itself) to their minimum
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()  # truncate lineage: plans stay O(1)
        )
        e = small
        new_sig = _sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    # after convergence every edge is (node, component-min); the min
    # itself and isolated nodes label themselves
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(
            e.select(F.col("u").alias("node"), F.col("v").alias("root")),
            "node",
            "left",
        )
        .groupBy("node")
        .agg(F.min(F.coalesce("root", "node")).alias("cluster_id"))
        .select(F.col("node").alias(id_col), "cluster_id")
    )
