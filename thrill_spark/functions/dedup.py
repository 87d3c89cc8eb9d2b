"""Deduplication operators for training-data pipelines.

Four families, all shuffle-bounded and expressible without Python UDFs:

- exact: hash-groupBy on a normalized fingerprint (md5).
- minhash + LSH: shingle -> 60-bit md5 hash -> k permutation mins ->
  band buckets -> candidate pairs within buckets -> exact Jaccard
  verify. The band join only shuffles (band_id, bucket) keys, so the
  candidate generation is linear in corpus size, not quadratic.
- simhash: per-token hash bit-votes -> b-bit signature; near-dups share
  signatures (or differ in few bits).
- n-gram Jaccard: exact pairwise similarity via shingle self-join —
  quadratic in colliding docs, used as the verify step / small-corpus
  baseline.

Hashing is md5-derived everywhere so the DuckDB oracle reproduces every
value bit-for-bit (engine-native hashes differ across engines).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from thrill_spark.functions.text import char_ngrams, fingerprint, md5_long, tokens, word_ngrams

# Fixed affine-permutation constants for minhash: h_i(x) = (a_i*x + b_i) mod P.
# P = 2^31-1 (Mersenne prime). The 60-bit md5 base hash is first reduced
# mod P so every product stays < 2^61: BOTH engines then compute the
# identical exact int64 arithmetic (DuckDB errors on overflow rather
# than wrapping, so staying in range is mandatory for oracle parity).
MINHASH_P = (1 << 31) - 1


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i odd, both < 2^30, each pair
    drawn from its own sha256 digest of i (no RNG: the oracle SQL must
    inline the very same constants).

    Independent per-i digests, not a progression in i: with (a_i, b_i)
    linear in i, h_i(x) = h_0(x) + i*c(x) mod P, so one shingle with a
    small c(x) is the minimum of many h_i at once and a single differing
    shingle can break every LSH band of a near-duplicate pair."""
    params = []
    for i in range(k):
        d = hashlib.sha256(f"minhash:{i}".encode()).digest()
        a = int.from_bytes(d[:8], "big") % (1 << 30)
        params.append((a | 1, int.from_bytes(d[8:16], "big") % (1 << 30)))
    return params


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition before CPU-heavy per-row hashing WHEN the input
    arrives under-split (a small parquet file = ONE split, so the whole
    md5/shingle pipeline would run in a single task no matter how many
    cores exist — measured 4.3s single-task vs sub-second spread for
    minhash at sf0.1). When the input already has enough splits (the
    100 TB case) this is a no-op: no exchange is added.

    The partition count is EXPLICIT: AQE sizes coalescing by shuffle
    BYTES, and a corpus that is small in bytes but heavy in per-row
    compute would be coalesced right back into one task."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    if df.rdd.getNumPartitions() * 2 >= target:
        return df
    return df.repartition(target, F.col(id_col))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one representative (min id) per normalized-content
    fingerprint. Scales as a single hash aggregation."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


def shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int = 3
) -> DataFrame:
    """Explode distinct word-shingles and hash each to a 60-bit int."""
    df = _spread(df, id_col)
    sh = df.select(F.col(id_col), F.explode(word_ngrams(text_col, shingle_words)).alias("sh"))
    return sh.select(id_col, md5_long(F.col("sh")).alias("h"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection, after
    Schleimer et al. SIGMOD'03): hash each word-shingle, slide a window
    of `window` consecutive shingle hashes, keep the minimum of each
    window; the sorted distinct survivors per doc are the fingerprint
    set. Returns (id_col, fp array<long>).

    Guarantees any shared run of >= window+shingle_words-1 words
    produces at least one shared fingerprint — positional, unlike
    minhash's set-sample. Shingles stay positional (NOT distinct-ed);
    winnowing's guarantee depends on the original sequence.

    Shape: fully ROW-based — tokens explode once, shingles come from
    lead() over per-doc position order, the rolling min is a window
    frame. One shuffle (by doc id), two window functions over one sort,
    linear work. (The tempting pure-array form
    transform(idx, i -> array_min(slice(hs, i, w))) makes Catalyst
    re-evaluate the nested array expression per element = O(n^2) work
    per doc — measured >5x slower on 500 short docs, far worse on long
    ones.) Very long documents would swap the per-doc window for the
    ordering._halo_window pattern; per-doc state here is one doc's
    tokens, the same bound the reference's RingBuffer window holds."""
    df = _spread(df, id_col)
    toks_ex = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("_i", "_t")
    )
    wdoc = W.partitionBy(id_col)
    worder = wdoc.orderBy("_i")
    n = F.count("*").over(wdoc)
    n_sh = F.greatest(n - (shingle_words - 1), F.lit(1))
    shingle = F.concat_ws(
        " ", *["_t", *[F.lead("_t", j).over(worder) for j in range(1, shingle_words)]]
    )
    sh = toks_ex.select(
        F.col(id_col), F.col("_i"), n_sh.alias("_nsh"), md5_long(shingle).alias("_h")
    ).filter(F.col("_i") < F.col("_nsh"))
    wmin = F.min("_h").over(
        W.partitionBy(id_col).orderBy("_i").rowsBetween(0, window - 1)
    )
    mins = sh.select(
        F.col(id_col), F.col("_i"), F.col("_nsh"), wmin.alias("_m")
    ).filter(F.col("_i") <= F.greatest(F.col("_nsh") - window, F.lit(0)))
    return mins.groupBy(id_col).agg(F.array_sort(F.collect_set("_m")).alias("fp"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """Per-doc minhash signature as num_hashes columns mh0..mh{k-1}.

    One explode + one groupBy: shuffle volume = total distinct shingles.
    """
    hashed = shingle_hashes(df, text_col, id_col, shingle_words).withColumn(
        "h", F.col("h") % MINHASH_P
    )
    aggs = [
        F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int = 10_000,
) -> DataFrame:
    """Band the signature (rows = num_hashes/bands) and bucket-join:
    docs sharing any band bucket become candidate pairs (id_a < id_b).

    The join key is (band_id, band_hash) — candidate generation never
    compares non-colliding docs, which is what makes minhash-LSH viable
    at 100 TB while pairwise Jaccard is not.

    The bucket join goes through bounded_self_join so one degenerate
    bucket (mass-duplicated boilerplate — the common case in web
    corpora) is decomposed into <=bucket_cap^2-pair tasks instead of a
    single quadratic straggler; the candidate SET is unchanged.
    """
    from thrill_spark.operators.skew import bounded_self_join
    from thrill_spark.ordering import _persist

    # The signature aggregation feeds every band slice AND both sides of
    # the bounded join (plus its bucket-count pass) — persist it so the
    # md5-per-shingle pipeline upstream runs once, not bands x 3 times
    # (measured 3x end-to-end on the sf0.1 corpus). Tiny: one row of
    # num_hashes longs per doc. Drained via ordering.release_persisted().
    signatures = _persist(signatures)
    rows_per_band = num_hashes // bands
    # One scan, one explode: an array of (band, band_hash) structs per
    # doc instead of a bands-way union (which re-reads the signatures
    # `bands` times and stacks `bands` map stages into the plan).
    entries = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_hash = F.md5(F.concat_ws("_", *[c.cast("string") for c in cols]))
        entries.append(F.struct(F.lit(b).alias("band"), band_hash.alias("bh")))
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("_e")
    ).select(id_col, F.col("_e.band").alias("band"), F.col("_e.bh").alias("bh"))
    pairs = bounded_self_join(
        banded,
        ["band", "bh"],
        salt_on=id_col,
        left_cols={"id_a": id_col},
        right_cols={"id_b": id_col},
        cap=bucket_cap,
    )
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The production near-dup edge generator: LSH candidates verified
    by exact n-gram Jaccard — but ONLY on candidate pairs, never the
    full shingle self-join. Cost stays linear in corpus size (candidate
    count) + per-pair work bounded by the two docs' shingle sets; this
    is the verify step jaccard_pairs provides as a standalone baseline,
    restricted to where LSH says it matters."""
    from thrill_spark.ordering import _persist

    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_words)
    # Persist the candidate list: it feeds the id restriction below plus
    # both sides of the verify join — unpersisted, the whole
    # minhash->band->bucket-join chain would re-execute three times.
    cands = _persist(lsh_candidate_pairs(sig, id_col, num_hashes, bands))
    # Materialize the cache eagerly: the verify plan references cands
    # from three concurrently-scheduled stages, which would otherwise
    # race on the cold cache and each recompute the LSH chain.
    cands.count()
    # Verify-side shingle arrays are needed ONLY for docs appearing in
    # some candidate pair — a small fraction of the corpus. Semi-join
    # the ids first so the n-gram materialization is linear in the
    # candidate set, not the corpus (at 100 TB the full-corpus shingle
    # arrays dwarf every other intermediate in this pipeline).
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs_c = df.join(cand_ids, on=id_col, how="leftsemi")
    sh = _spread(docs_c, id_col).select(
        F.col(id_col), word_ngrams(text_col, shingle_words).alias("_sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    jac = inter / (F.size("_sa") + F.size("_sb") - inter)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    threshold: float = 0.5,
    char_n: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for doc pairs sharing >=1 shingle.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) over distinct shingles. The
    shingle self-join is the quadratic baseline / LSH verify step.
    """
    df = _spread(df, id_col)
    shingled = df.select(
        F.col(id_col),
        (
            char_ngrams(text_col, char_n) if char_n else word_ngrams(text_col, shingle_words)
        ).alias("shingles"),
    )
    sizes = shingled.select(id_col, F.size("shingles").alias("n_sh"))
    ex = shingled.select(F.col(id_col), F.explode("shingles").alias("sh"))
    a = ex.select(F.col(id_col).alias("id_a"), F.col("sh"))
    b = ex.select(F.col(id_col).alias("id_b"), F.col("sh"))
    common = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", "jaccard")


def bloom_dup_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 1 << 20,
    num_hash: int = 3,
) -> DataFrame:
    """Bloom-filter duplicate detection — the Spark-first realization of
    the reference's shuffle-avoidance pass
    (core/duplicate_detection.hpp:38: workers exchange golomb-coded
    bloom bit positions instead of keys, then only possibly-duplicate
    keys are shuffled).

    Here the "compressed bit exchange" is a shuffle of int bit
    positions with map-side partial aggregation: every row sets
    num_hash md5-derived positions in a bits-wide space; a position
    seen >= 2 times is hot; a fingerprint ALL of whose positions are
    hot is a duplicate candidate. Any fingerprint occurring >= 2 times
    sets each of its positions >= 2 times, so the candidate set is a
    SUPERSET of the true duplicates (bloom false positives only — never
    false negatives); the exact confirm is restricted to candidates.

    Scale: the hot-bit aggregation shuffles at most `bits` rows per
    map task after partial agg (ints, not fingerprint strings); the
    candidate join key is a bounded-cardinality int; and in the
    mostly-unique corpus this is built for, the exact-dedup shuffle
    afterwards moves only the candidate fraction instead of every
    (fingerprint, id) pair. Size `bits` ~ 10x corpus rows for a low
    false-positive rate. Returns (id_col, fp) candidate rows."""
    from thrill_spark.ordering import _persist

    # The text-wide fingerprint md5 is the expensive map; it feeds both
    # the hot-bit aggregation and the candidate join, so persist the
    # tiny (id, fp) projection and compute it once. Drained via
    # ordering.release_persisted().
    fpd = _persist(df.select(F.col(id_col), fingerprint(text_col).alias("fp")))
    positions = F.array(
        *[
            md5_long(F.concat(F.lit(f"b{j}:"), F.col("fp"))) % F.lit(bits)
            for j in range(num_hash)
        ]
    )
    tagged = fpd.withColumn("_pos", positions)
    ex = tagged.select(F.explode("_pos").alias("bitpos"))
    hot = (
        ex.groupBy("bitpos")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("bitpos")
    )
    per_pos = tagged.select(id_col, "fp", F.explode("_pos").alias("bitpos"))
    return (
        per_pos.join(hot, "bitpos")
        .groupBy(id_col, "fp")
        .agg(F.count("*").alias("_hot"))
        .filter(F.col("_hot") == num_hash)
        .select(id_col, "fp")
    )


def bloom_prefilter_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 1 << 20,
    num_hash: int = 3,
) -> DataFrame:
    """Exact duplicate groups (fp, min id, n_copies >= 2), computed with
    the bloom prefilter: only candidate rows reach the exact
    fingerprint aggregation. Result is identical to running exact_dedup
    and keeping n_copies >= 2 — the bloom pass changes the shuffle
    volume, never the answer."""
    cands = bloom_dup_candidates(df, text_col, id_col, bits, num_hash)
    return (
        cands.groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric containment C(A in B) = |A∩B| / |A| over distinct
    word shingles — the near-dup measure for short-doc-inside-long-doc
    (quote extraction, partial scrapes) that symmetric Jaccard misses:
    a tweet embedded verbatim in an article has Jaccard ≈ 0 but
    containment ≈ 1.

    Same shingle self-join shape as jaccard_pairs (the quadratic
    baseline / verify step; candidate-restrict through LSH for the
    100 TB path). Emits pairs where either direction's containment
    >= threshold, with both directions reported."""
    df = _spread(df, id_col)
    shingled = df.select(F.col(id_col), word_ngrams(text_col, shingle_words).alias("shingles"))
    sizes = shingled.select(id_col, F.size("shingles").alias("n_sh"))
    ex = shingled.select(F.col(id_col), F.explode("shingles").alias("sh"))
    a = ex.select(F.col(id_col).alias("id_a"), F.col("sh"))
    b = ex.select(F.col(id_col).alias("id_b"), F.col("sh"))
    common = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    ca = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    cb = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .filter(F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold)
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash signature: per-token 60-bit md5 hash votes +1/-1 on each
    of `bits` signature bits; the signature bit is 1 iff the vote sum is
    positive. One explode + one groupBy (shuffle = token count)."""
    toks = _spread(df, id_col).select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    hashed = toks.select(id_col, md5_long(F.col("t")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agged = hashed.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agged.select(F.col(id_col), sig.cast("long").alias("simhash"))


def banded_signatures(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, band_hash) rows from mh0..mh{k-1} signature columns —
    one scan + one explode (shared by self-join and cross-corpus LSH)."""
    rows_per_band = num_hashes // bands
    entries = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_hash = F.md5(F.concat_ws("_", *[c.cast("string") for c in cols]))
        entries.append(F.struct(F.lit(b).alias("band"), band_hash.alias("bh")))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("_e")
    ).select(id_col, F.col("_e.band").alias("band"), F.col("_e.bh").alias("bh"))


def incremental_dedup(
    batch_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_words: int = 3,
    threshold: float = 0.5,
    bucket_cap: int = 10_000,
) -> DataFrame:
    """Flag which NEW documents near-duplicate an EXISTING corpus — the
    production shape of dedup at 100 TB, where the corpus is already
    ingested and each incoming batch must be checked against it without
    re-deduplicating the whole corpus.

    Both sides get minhash signatures; candidate (batch, corpus) pairs
    come from an LSH band equi-join (bounded per-bucket via
    operators.skew.bounded_join, so boilerplate-heavy band buckets
    decompose instead of straggling); candidates are verified with
    exact shingle Jaccard restricted to candidate docs only. Corpus-side
    signature cost is linear and in production would be precomputed and
    stored — here it is derived inline so the operator is
    self-contained.

    The default 8 bands of 2 rows put the LSH S-curve midpoint,
    (1/bands)^(bands/num_hashes) ~ 0.35, below the default verify
    threshold, so a pair at Jaccard 0.5 becomes a candidate with
    probability 1-(1-0.5^2)^8 ~ 0.90 (4 bands of 4: 0.23).

    Returns one row per batch doc: (id, n_dups, first_match, is_dup)
    with first_match = smallest matching corpus id or -1.
    """
    from thrill_spark.operators.skew import bounded_join
    from thrill_spark.ordering import _persist

    sig_b = minhash_signatures(batch_df, text_col, id_col, num_hashes, shingle_words)
    sig_c = minhash_signatures(corpus_df, text_col, id_col, num_hashes, shingle_words)
    banded_b = banded_signatures(sig_b, id_col, num_hashes, bands)
    banded_c = banded_signatures(sig_c, id_col, num_hashes, bands)
    cands = _persist(
        bounded_join(
            banded_b,
            banded_c,
            ["band", "bh"],
            salt_left=id_col,
            salt_right=id_col,
            left_cols={"id_b": id_col},
            right_cols={"id_c": id_col},
            cap=bucket_cap,
        )
        .select("id_b", "id_c")
        .distinct()
    )
    cands.count()  # materialize before the three downstream reads race
    # The .distinct() below looks redundant (leftsemi ignores
    # right-side duplicates) but is measured load-bearing: removing
    # both cost 1.32/1.45 in two pinned 4/6-pass one-JVM A/Bs (r15),
    # so the deduped build sides stay.
    sh_b = (
        batch_df.join(
            cands.select(F.col("id_b").alias(id_col)).distinct(), id_col, "leftsemi"
        )
        .select(
            F.col(id_col).alias("id_b"),
            word_ngrams(text_col, shingle_words).alias("_sa"),
        )
    )
    sh_c = (
        corpus_df.join(
            cands.select(F.col("id_c").alias(id_col)).distinct(), id_col, "leftsemi"
        )
        .select(
            F.col(id_col).alias("id_c"),
            word_ngrams(text_col, shingle_words).alias("_sb"),
        )
    )
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    jac = inter / (F.size("_sa") + F.size("_sb") - inter)
    verified = (
        cands.join(sh_b, "id_b")
        .join(sh_c, "id_c")
        .select("id_b", "id_c", jac.alias("_j"))
        .filter(F.col("_j") >= threshold)
    )
    per_batch = verified.groupBy("id_b").agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("id_c").alias("first_match")
    )
    return (
        batch_df.select(F.col(id_col).alias("id_b"))
        .join(per_batch, "id_b", "left")
        .select(
            F.col("id_b").alias(id_col),
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("long").alias("n_dups"),
            F.coalesce(F.col("first_match"), F.lit(-1)).cast("long").alias("first_match"),
            (F.coalesce(F.col("n_dups"), F.lit(0)) > 0).alias("is_dup"),
        )
    )


def duplicated_ngram_cover(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Substring-level dedup signal: per-doc fraction of tokens covered
    by an n-gram that occurs more than once in the whole corpus, plus
    the fingerprint of the text with covered tokens dropped.

    The ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better") approximated at n-gram
    granularity: a token position is "covered" when ANY corpus-
    duplicated n-gram's occurrence span [i, i+n) contains it. Unlike
    whole-doc or chunk dedup this catches long shared spans embedded
    in otherwise-unique documents (boilerplate, quotations, licenses).

    Plan shape (all exact-integer / md5, oracle-replayable):
      posexplode n-gram starts -> md5 gram key -> groupBy count ->
      semi-join duplicated grams back to occurrences -> explode each
      occurrence's n positions -> distinct covered (doc, pos) ->
      anti-join against token positions -> re-assemble survivors in
      position order.

    Scale: the gram->count join key space is the distinct-gram set
    (sublinear in corpus with natural text); the position explode is a
    bounded n-fold expansion of *duplicated occurrences only*, not the
    whole corpus. No UDFs, no driver paths; every shuffle is keyed by
    gram hash or doc id. Returns (id_col, n_tokens, n_dup_tokens,
    dup_frac_bp, kept_fp).
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("_toks")).filter(
        F.size("_toks") >= n
    )
    occ = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, size(_toks) - {n}),"
                f" i -> struct(i AS pos, md5(array_join(slice(_toks, i + 1, {n}), ' ')) AS g))"
            )
        ).alias("_o"),
    ).select(id_col, "_o.pos", "_o.g")
    dup_grams = occ.groupBy("g").agg(F.count("*").alias("_c")).filter(F.col("_c") > 1)
    covered = (
        occ.join(dup_grams.select("g"), "g")
        .select(
            F.col(id_col).alias("_cid"),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
                "cpos"
            ),
        )
        .distinct()
    )
    pos_toks = toks.select(
        F.col(id_col), F.posexplode("_toks").alias("tpos", "tok")
    )
    kept = pos_toks.join(
        covered,
        (pos_toks[id_col] == covered["_cid"]) & (pos_toks.tpos == covered.cpos),
        "left_anti",
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("kept_fp"),
        F.count("*").alias("_n_kept"),
    )
    base = toks.select(F.col(id_col), F.size("_toks").cast("long").alias("n_tokens"))
    return (
        base.join(kept_agg, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_dup_tokens"
            ),
            F.expr(
                "CAST((n_tokens - coalesce(_n_kept, 0)) * 10000 div n_tokens AS BIGINT)"
            ).alias("dup_frac_bp"),
            F.coalesce(F.col("kept_fp"), F.md5(F.lit(""))).alias("kept_fp"),
        )
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """All document pairs whose SimHash signatures differ in at most
    `max_hamming` bits — the multi-table Hamming search that makes
    SimHash usable at scale (Manku et al. WWW'07): split the signature
    into max_hamming+1 bands; by pigeonhole ANY pair within the
    Hamming budget matches on at least one band exactly, so candidates
    come from band-equality hash joins (linear shuffle), and the exact
    popcount verify runs only on candidates. Completeness is
    structural, not probabilistic. Returns (id_a, id_b, hamming)."""
    n_bands = max_hamming + 1
    band_bits = (bits + n_bands - 1) // n_bands
    sigs = simhash(df, text_col, id_col, bits)
    from thrill_spark.ordering import _persist

    sigs = _persist(sigs)
    bands = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.band", "b.val")
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band", "val"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band", "val"
    )
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking (Rabin/Gear-CDC shape, at word
    granularity): a chunk boundary opens wherever the rolling hash of
    the next `window` words hits 0 mod `divisor`, so chunk edges are
    CONTENT-anchored — insert one sentence into a 10 GB document and
    only the chunks around the edit change, where fixed-size chunking
    would shift every downstream chunk (the property that makes CDC
    the standard dedup unit for storage systems and large-corpus
    near-dup spans).

    Deterministic + oracle-exact: word hash = md5-derived 60-bit int,
    window hash = h[i] + 3h[i+1] + 9h[i+2] + 27h[i+3] (integer, no
    fold). Everything is per-document array expressions — a scan, no
    shuffle; expected chunk length ~divisor words.

    Returns (id, chunk_no, chunk_hash, n_tokens) — one row per chunk.
    """
    from thrill_spark.functions.text import md5_long

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    d = df.select(F.col(id_col), toks.alias("_toks"))
    d = d.withColumn(
        "_h", F.transform(F.col("_toks"), lambda t: md5_long(t))
    ).withColumn("_m", F.greatest(F.size("_toks") - F.lit(window - 1), F.lit(1)))
    # fold word hashes to 20 bits before the weighted sum so the
    # window hash stays far inside int64 under ANSI arithmetic
    _M = 1 << 20
    # try_element_at: ANSI & does not short-circuit, so the short-doc
    # guard (size < window) must not keep this from evaluating — NULL
    # propagates to a NULL predicate, which filter() treats as false
    whash = lambda i: (  # noqa: E731
        F.try_element_at(F.col("_h"), i) % _M
        + (F.try_element_at(F.col("_h"), i + 1) % _M) * 3
        + (F.try_element_at(F.col("_h"), i + 2) % _M) * 9
        + (F.try_element_at(F.col("_h"), i + 3) % _M) * 27
    )
    d = d.withColumn(
        "_sp",
        F.filter(
            F.sequence(F.lit(1), F.col("_m")),
            lambda i: (i == 1)
            | (
                (F.size("_toks") >= window)
                & (whash(i) % divisor == 0)
            ),
        ),
    )
    # chunk k: tokens [_sp[k], next boundary - 1] (last chunk runs out)
    chunk_texts = F.transform(
        F.sequence(F.lit(1), F.size("_sp")),
        lambda k: F.array_join(
            F.slice(
                F.col("_toks"),
                F.element_at(F.col("_sp"), k),
                F.coalesce(
                    F.try_element_at(F.col("_sp"), k + 1),
                    F.size("_toks") + 1,
                )
                - F.element_at(F.col("_sp"), k),
            ),
            " ",
        ),
    )
    out = d.select(
        F.col(id_col), F.posexplode(chunk_texts).alias("_k", "_chunk")
    )
    return out.select(
        F.col(id_col),
        (F.col("_k") + 1).alias("chunk_no"),
        F.md5(F.col("_chunk")).alias("chunk_hash"),
        F.size(F.filter(F.split(F.col("_chunk"), " "), lambda t: t != "")).alias(
            "n_tokens"
        ),
    )


def cdc_dup_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    divisor: int = 16,
) -> DataFrame:
    """Per-document cross-corpus duplication via CDC chunks: a chunk is
    duplicated when its hash appears in MORE THAN ONE document; the
    report gives each doc's token count, duplicated-token count, and
    duplication share in basis points (integer-exact).

    Scale: chunking is a scan; the dup decision is one groupBy over
    chunk hashes (vocabulary-sized) joined back — linear, the same
    shape as exact_dedup, but at sub-document granularity."""
    ch = cdc_chunks(df, text_col, id_col, window, divisor)
    multi = (
        ch.groupBy("chunk_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("chunk_hash")
    )
    flagged = ch.join(multi, "chunk_hash", "left_semi").groupBy(id_col).agg(
        F.sum("n_tokens").cast("long").alias("dup_tokens")
    )
    per_doc = ch.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return (
        per_doc.join(flagged, id_col, "left")
        .fillna({"dup_tokens": 0})
        .select(
            id_col,
            "n_chunks",
            "total_tokens",
            "dup_tokens",
            # nullif guards the all-whitespace document (one empty
            # chunk, total_tokens = 0) from ANSI DIVIDE_BY_ZERO;
            # duplication share of an empty doc is 0.
            F.coalesce(
                F.expr("dup_tokens * 10000 div nullif(total_tokens, 0)"),
                F.lit(0),
            ).cast("long").alias("dup_bp"),
        )
    )
