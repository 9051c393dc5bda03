"""Deduplication operators for large-scale document pipelines.

Not present in the reference engine (GDAL has no doc dedup) — these are
the training-data-pipeline extensions mandated by the build brief,
designed Spark-first:

- exact_dedup: hash-groupBy; one shuffle on a short hash key.
- ngram_jaccard_pairs: near-dup pairs via token-n-gram inverted-index
  join (join on shared gram — never a cross join), integer-arithmetic
  Jaccard so results are engine-exact.
- minhash_signatures / minhash_lsh_pairs: MinHash + banded LSH. Word
  hashes are an explicit polynomial rolling hash (31x + c mod 2^31)
  evaluated JVM-side with `aggregate` — deterministic, portable,
  reproducible in plain SQL (no engine-private hash function), so the
  DuckDB oracle can replay it bit-for-bit.
- simhash64: 64-bit SimHash over word hashes with +/-1 bit votes.

All integer math: no float anywhere, so every result is exact.

Operational note on the persisted index tables (here and in
similarity.ivf_dedup_pairs): each call persist()s its shared subtrees
into executor MEMORY_AND_DISK and, outside a `cache.scope()`, they stay
in Spark's CacheManager — identical re-invocations reuse them (a
feature), but a long-lived session cycling MANY distinct large corpora
should run each call and its action inside `with cache.scope():`,
which releases exactly those tables (clearCache() evicts everyone's).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cache

M31 = 2147483648  # 2^31
LSH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)
GRAM_P = 1000003  # word-hash composition multiplier (fits: 1e6 * 2^31 < 2^63)


def word_hash_expr(word: str = "w") -> str:
    """Polynomial rolling hash of a word: fold(chars, h*31 + code) mod 2^31.
    Text fixtures are ASCII; `ascii(char)` = codepoint in both Spark and
    DuckDB."""
    return (
        f"aggregate(split({word}, ''), 0L, "
        f"(h, ch) -> (h * 31 + ascii(ch)) % {M31})"
    )


def tokens(df: DataFrame, text: str = "text", out: str = "toks") -> DataFrame:
    """Whitespace tokenization (the BPE-ish regex split is in
    operators.text); empty tokens dropped."""
    return df.withColumn(out, F.expr(f"filter(split({text}, ' '), t -> t != '')"))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact duplicate groups: (text) -> keeper = min id, n_dups.
    Returns only groups with >1 member. At scale, group on a hash of
    the text (shuffle key stays short) and verify text equality inside
    the group; here text is the key directly for oracle clarity."""
    return (
        df.groupBy(text)
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_members"))
        .filter(F.col("n_members") > 1)
        .select("keeper", "n_members")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 2,
    threshold_pct: int = 50,
) -> DataFrame:
    """Near-duplicate pairs by Jaccard over the SET of word n-grams.

    Exact AllPairs-style plan (prefix filtering, Bayardo et al. 2007):

    1. distinct word n-grams per doc, globally ordered rarest-first
       (df asc, gram asc);
    2. each doc indexes only its PREFIX of length ng - ceil(t*ng) + 1 —
       any pair with Jaccard >= t must collide inside both prefixes
       (for a qualifying pair, overlap >= t*max(na, nb));
    3. candidate pairs = equi-join of the prefix inverted index;
    4. verification = array_intersect on the per-doc sorted gram sets
       (JVM-side, per candidate pair — never a second gram shuffle).

    The gram-prefix join is the only shuffle that scales with corpus
    size; hot grams are naturally deprioritized because frequent grams
    sort LAST and rarely make a prefix.

    The two shared subtrees are persisted — the per-doc gram-set
    table and the ranked prefix index — so the self-join and the
    verification joins reuse ONE evaluation each instead of
    re-deriving the text scan per branch
    (a self-join's two sides never hit ReusedExchange: their
    projections differ). Standard index-materialization for AllPairs;
    storage is MEMORY_AND_DISK on executors, O(corpus gram sets),
    lineage KEPT (persist, not checkpoint — evicted or lost blocks
    recompute, and the planner keeps size stats). Measured 3.4x
    end-to-end on the adversarial word-soup bench fixture
    (42.8 -> 12.0 s isolated at sf0.1).
    Returns (id_a, id_b, shared, na, nb) with id_a < id_b.
    """
    # grams are carried as int64 polynomial hashes, not strings: the
    # shared-gram join shuffles 8-byte keys and the verification
    # intersects int arrays (~10x cheaper than string arrays). The
    # oracle applies the identical hash, so even a hash collision (p ~
    # |grams|^2 / 2^32 globally) yields identical results both sides.
    # Each TOKEN is char-folded once, then a gram hash is composed from
    # the n word hashes (h*GRAM_P + wh mod 2^31) — O(chars + n) lambda
    # steps per doc instead of O(n * chars) per gram (4.3x measured on
    # the extraction stage at sf0.1).
    wh = word_hash_expr("w")
    # per-ROW distinct gram-hash array (pure projection), then one
    # COMPACT groupBy merge so duplicate id rows union their gram sets
    # — the oracle's DISTINCT(doc_id, gram) semantics. The merge
    # shuffles one small array per row, not the exploded gram rows the
    # old collect_set build shuffled.
    docsets = (
        tokens(df, text)
        .withColumn("_whs", F.expr(f"transform(toks, w -> {wh})"))
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(
                # NB: sequence(1, 0) is DESCENDING [1,0] in Spark,
                # so short docs need the explicit empty-array guard
                F.expr(
                    f"if(size(_whs) < {n}, array(), "
                    f"transform(sequence(1, size(_whs) - {n - 1}), "
                    f"i -> aggregate(slice(_whs, i, {n}), 0L, "
                    f"(h, x) -> (h * {GRAM_P} + x) % {M31})))"
                )
            ).alias("gs"),
        )
        .groupBy("_id")
        .agg(F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("gs")))).alias("gs"))
        .withColumn("ng", F.size("gs").cast("bigint"))
    )
    docsets = cache.persist(docsets)
    grams = docsets.select("_id", "ng", F.explode("gs").alias("gram"))
    df_counts = grams.groupBy("gram").agg(F.count("*").alias("gdf"))
    ranked = grams.join(df_counts, "gram").withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("gdf").asc(), F.col("gram").asc())
        ),
    )
    # prefix length: ng - ceil(t*ng) + 1; ng rides the gram rows, so
    # the prefix filter and the LENGTH filter (J >= t forces
    # t*na <= nb <= na/t, Bayardo et al.) need no doc-set join
    t = threshold_pct
    pre = ranked.filter(
        F.col("_rk") <= F.col("ng") - F.ceil(F.col("ng") * t / 100.0) + 1
    ).select("_id", "gram", "_rk", "ng")
    pre = cache.persist(pre)
    a = pre.select(F.col("_id").alias("id_a"), "gram",
                   F.col("ng").alias("na_"), F.col("_rk").alias("rka"))
    b = pre.select(F.col("_id").alias("id_b"), "gram",
                   F.col("ng").alias("nb_"), F.col("_rk").alias("rkb"))
    # POSITIONAL filter (PPJoin, Xiao et al. 2008): both gram lists are
    # sorted by the same global (df, gram) order, so the pair's first
    # colliding gram — min rank in a, which is the same gram as min
    # rank in b — has no common gram before it, and
    #   overlap <= 1 + min(na - rka, nb - rkb).
    # J >= t  <=>  overlap*(100+t) >= t*(na+nb); pairs whose positional
    # upper bound already fails are dropped BEFORE the verification
    # join ships their full gram arrays. (The groupBy replaces the old
    # `.distinct()` — same shuffle width, two extra int columns.)
    cand = (
        a.join(b, "gram")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.lit(100) * F.col("nb_") >= F.lit(threshold_pct) * F.col("na_"))
            & (F.lit(100) * F.col("na_") >= F.lit(threshold_pct) * F.col("nb_"))
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("rka").alias("_i0"),
            F.min("rkb").alias("_j0"),
            F.first("na_").alias("_na"),
            F.first("nb_").alias("_nb"),
        )
        .filter(
            (F.lit(1) + F.least(F.col("_na") - F.col("_i0"),
                                F.col("_nb") - F.col("_j0")))
            * F.lit(100 + t)
            >= F.lit(t) * (F.col("_na") + F.col("_nb"))
        )
        .select("id_a", "id_b")
    )
    out = (
        cand.join(
            docsets.select(F.col("_id").alias("id_a"), F.col("gs").alias("gs_a"),
                           F.col("ng").alias("na")),
            "id_a",
        )
        .join(
            docsets.select(F.col("_id").alias("id_b"), F.col("gs").alias("gs_b"),
                           F.col("ng").alias("nb")),
            "id_b",
        )
        .withColumn("shared", F.size(F.array_intersect("gs_a", "gs_b")).cast("bigint"))
        .filter(
            F.lit(100) * F.col("shared")
            >= F.lit(threshold_pct) * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select("id_a", "id_b", "shared", "na", "nb")
    )
    return out


def minhash_signatures(
    df: DataFrame, *, id_col: str = "doc_id", text: str = "text",
    n_hashes: int = 16,
) -> DataFrame:
    """(id, sig array<bigint>) MinHash signature over distinct word
    hashes. Whole computation is one JVM-side projection (aggregate +
    transform higher-order functions) — no Python, no shuffle."""
    t = tokens(df, text)
    whashes = t.withColumn(
        "whs",
        F.expr(
            f"array_distinct(transform(toks, w -> {word_hash_expr('w')}))"
        ),
    ).filter(F.size("whs") > 0)
    # ^ empty/whitespace-only docs are EXCLUDED from minhashing by
    # contract (min over an empty set is undefined); the SQL oracles'
    # unnest CTEs drop them identically, so the rule is pinned here
    # rather than left fixture-dependent.
    sig_cols = []
    for j in range(n_hashes):
        a = (2 * j + 1) * 40503 % LSH_PRIME
        b = (j * 1103515245 + 12345) % LSH_PRIME
        sig_cols.append(
            F.expr(
                f"array_min(transform(whs, h -> (h * {a} + {b}) % {LSH_PRIME}))"
            ).alias(f"mh{j}")
        )
    return whashes.select(
        F.col(id_col).alias("id"), F.array(*sig_cols).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame, *, id_col: str = "doc_id", text: str = "text",
    n_hashes: int = 16, bands: int = 4,
) -> DataFrame:
    """Banded LSH candidate pairs: signatures split into `bands` rows of
    n_hashes/bands; docs agreeing on any whole band pair up. Returns
    (id_a, id_b, n_bands_matched). The band-bucket join is an equi-join
    on (band_idx, band_values) — the scalable LSH shape.

    The banded-key table is persisted (MEMORY_AND_DISK, lineage kept)
    so the self-join's two sides reuse ONE signature pass (self-joins
    never hit ReusedExchange; without it the text scan + 16 array_min
    folds run twice)."""
    r = n_hashes // bands
    sigs = minhash_signatures(df, id_col=id_col, text=text, n_hashes=n_hashes)
    # The band key is the r-value slice FOLDED to one int64 (h*131 + x
    # mod 2^31-1): the self-join shuffles and compares 8-byte keys
    # instead of array<bigint> — far cheaper serialization + hash
    # exchange. Fold collisions only ADD candidate band matches, and the
    # oracle applies the identical fold, so results stay engine-exact
    # (this is standard LSH bucket hashing, not an approximation).
    banded = sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b as band, aggregate(slice(sig, b*{r}+1, {r}), 0L, "
                f"(h, x) -> (h * 131 + x) % {LSH_PRIME}) as key))"
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    banded = cache.persist(banded)
    a = banded.select(F.col("id").alias("id_a"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands_matched"))
    )


def simhash64(df: DataFrame, *, id_col: str = "doc_id", text: str = "text",
              bits: int = 32) -> DataFrame:
    """SimHash: per bit b, vote +1 if bit b of word hash set else -1,
    summed over distinct words; fingerprint bit = vote > 0. 32 bits of
    the 31-bit word hash keep everything in exact int64 math."""
    t = tokens(df, text)
    whashes = t.withColumn(
        "whs", F.expr(f"array_distinct(transform(toks, w -> {word_hash_expr('w')}))")
    ).filter(F.size("whs") > 0)
    # empty docs excluded by contract — matches the oracles' unnest CTEs
    # (an empty doc has no bit votes; fingerprint 0 would be arbitrary)
    fp = F.expr(
        "aggregate(sequence(0, %d), 0L, (acc, b) -> acc + (CASE WHEN "
        "aggregate(whs, 0L, (v, h) -> v + CASE WHEN (h div shiftleft(1L, b)) %% 2 = 1 "
        "THEN 1 ELSE -1 END) > 0 THEN shiftleft(1L, b) ELSE 0L END))" % (bits - 1)
    )
    return whashes.select(F.col(id_col).alias("id"), fp.alias("simhash"))


def simhash_near_pairs(df: DataFrame, *, id_col: str = "doc_id",
                       text: str = "text", max_hamming: int = 3,
                       bits: int = 32, blocks: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming, found
    with the pigeonhole block trick (split fingerprint into blocks+?;
    any pair within distance max_hamming agrees on >= 1 block when
    blocks > max_hamming) — equi-join on (block_idx, block_bits).

    The blocked-fingerprint table is persisted so the self-join's two
    sides reuse ONE fingerprint pass (the per-bit vote fold is the
    expensive stage; self-joins never hit ReusedExchange)."""
    w = bits // blocks
    s = simhash64(df, id_col=id_col, text=text, bits=bits)
    blocked = s.select(
        "id", "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {blocks - 1}), "
                f"b -> struct(b as blk, (simhash div shiftleft(1L, b*{w})) % {1 << w} as key))"
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    blocked = cache.persist(blocked)
    a = blocked.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "key")
    b = blocked.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "key")
    pairs = (
        a.join(b, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.expr(
        "aggregate(sequence(0, %d), 0L, (acc, b) -> acc + "
        "abs((sh_a div shiftleft(1L, b)) %% 2 - (sh_b div shiftleft(1L, b)) %% 2))"
        % (bits - 1)
    )
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
