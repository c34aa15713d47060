"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Beyond-reference training-data operators (SURVEY.md §7 M7), designed
shuffle-frugally for 100 TB corpora:

- **exact**: one hash-aggregate on a 60-bit content hash. Map-side
  partial agg; the only shuffle is by hash key (uniformly
  distributed by construction, no skew).
- **MinHash-LSH**: per-row signature (narrow), explode to
  (band, band-hash) keys, self-join per bucket. The shuffle is by
  band-hash — bucket sizes are the tuning knob (bands x rows/bucket);
  candidate verification happens only within buckets, never all
  pairs.
- **SimHash**: per-row 60-bit signature via weighted bit votes;
  near-dup pairs via Manku-style block-COMBINATION keys (default
  60/6/hamming-3 = twenty 30-bit keys, 2^30 key space — the r9
  measurement showed one-block banding's 2^8 space saturating at
  64x; see docs/SCALE.md finding 4).
- **n-gram Jaccard**: exact verification on candidate pairs (or
  within explicit blocking keys) — the quadratic step is always
  bucketed.
- **embedding cosine**: within-block brute force; the scale path is
  the LSH/IVF bucketing in operators/similarity.py.

Everything is Spark built-ins (higher-order array functions, md5)
and every operator has a DuckDB-oracle SQL twin built from the same
hash60 primitive, so results are engine-verifiable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import let
from ..functions.hashing import hash60, hash60_duckdb, xxhash64_duckdb
from .partitioning import spread_small_input as _spread

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(content_hash, keep_id, n_dups): one row per distinct content;
    keep the smallest id (deterministic survivor policy)."""
    h = hash60(F.col(text_col))
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup_groups_oracle_sql(table: str = "documents") -> str:
    h = hash60_duckdb("text")
    return (
        f"SELECT {h} AS content_hash, min(doc_id) AS keep_id, "
        f"count(*) AS n_dups FROM {table} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------


def word_shingles(c: Column, k: int = 3) -> Column:
    """k-word shingles of lowercased text (distinct, order-free set).

    The token array is let-bound so the split/regexp tokenizer runs
    ONCE per row — referenced directly inside the per-index transform
    lambda it would re-evaluate per shingle, O(L^2) per document."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), " ")

    def sh(t: Column) -> Column:
        n = F.size(t)
        # guard: F.sequence(1, 0) would generate a DESCENDING range
        idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, k)))

    return F.array_distinct(let(toks, sh))


def word_shingles_sql_duckdb(expr: str, k: int = 3) -> str:
    toks = f"string_split(regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g'), ' ')"
    # range(1, n-k+2) yields [] automatically when n < k
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - {k - 1} + 1), "
        f"i -> array_to_string({toks}[i:i+{k - 1}], ' ')))"
    )


# Universal-hash family over a < 2^30 prime: one md5 per shingle,
# then h_i = (a_i * h + b_i) mod P with FULL-RANGE multipliers
# a_i = (i * 2654435761 + 1) mod P (Knuth's multiplicative constant;
# nonzero for every i < 200, checked). The 30-bit domain is the
# load-bearing choice: h < 2^30 and a_i < 2^30 keep a_i * h < 2^60
# (no int64 overflow, Spark ANSI-safe) while letting the
# multiplication WRAP the modulus for every h — a genuinely
# scrambling affine family. The r8 family used a 2^59 prime with
# multipliers 2..14, which cannot wrap any h < P/14: the few
# smallest shingle hashes of a document stayed the argmin of EVERY
# position, so two docs sharing one small-hash shingle (template
# clusters) read est_jaccard ~ 1.0 regardless of true similarity —
# measured in the r9 scale bench as est 0.5-0.69 on true-0.18 pairs
# and a superlinear LSH candidate explosion. Per-position base-hash
# collisions at 2^-30 are negligible against the 16-position
# signature.
_MH_PRIME = 1073741789  # prime < 2^30
_MH_A_MULT = 2654435761  # Knuth 2^32 * golden-ratio conjugate


def _mh_a(i: int) -> int:
    # (i+1) so position 0 doesn't degenerate to the identity
    # multiplier; distinct and > 2^23 for every i < 200 (checked)
    return ((i + 1) * _MH_A_MULT) % _MH_PRIME


def _mh_b(i: int) -> int:
    return (i * 1000003 + 17) % _MH_PRIME


def _shingle_hash(s: Column, hash_fn: str) -> Column:
    """Per-shingle base hash in [0, P): ``hash60`` (md5-derived —
    portable, so the DuckDB oracle reproduces every signature
    bit-for-bit) or ``xxhash64`` (one JVM intrinsic per shingle —
    the production default recommended by docs/SCALE.md; md5 exists
    only to keep oracle parity). Both feed the same affine
    permutation family."""
    if hash_fn == "hash60":
        return hash60(s) % F.lit(_MH_PRIME).cast("long")
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(s), F.lit(_MH_PRIME).cast("long"))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def minhash_signature(
    c: Column, num_hashes: int = 16, hash_fn: str = "hash60"
) -> Column:
    """MinHash signature: min over permuted shingle hashes.

    Each shingle is md5-hashed ONCE (hash60 mod P), then the
    ``num_hashes`` functions are cheap integer permutations — 16x
    less hashing than naive per-seed md5.

    Single-fold: ONE pass over the shingle-hash array accumulates all
    ``num_hashes`` minima (the permutation constants are affine in
    the accumulator index, so an index-aware transform computes
    them in-expression). The naive form — num_hashes separate
    array_min(transform(...)) folds — re-traverses the array
    num_hashes times; the same rewrite took simhash from 32 folds to
    one. The sentinel P is unreachable (mod P < P), so the finish
    step maps it to NULL — preserving the empty-input semantics of
    array_min."""
    sh = word_shingles(c)
    base = F.transform(sh, lambda s: _shingle_hash(s, hash_fn))
    # the prime fits int32 — explicit long keeps the accumulator and
    # the merge lambda at BIGINT (aggregate requires matching types)
    p = F.lit(_MH_PRIME).cast("long")
    init = F.array_repeat(p, num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.transform(
            acc,
            # (a_i * h + b_i) % P with the full-range multiplier
            # family (_mh_a/_mh_b): a_i, h < 2^30 so the product
            # stays < 2^60 — int64-safe AND modulus-wrapping
            lambda m, i: F.least(
                m,
                (
                    h
                    * (
                        (
                            (i.cast("long") + F.lit(1))
                            * F.lit(_MH_A_MULT)
                        )
                        % p
                    )
                    + (i.cast("long") * F.lit(1000003) + F.lit(17)) % p
                )
                % p,
            ),
        ),
        lambda acc: F.transform(acc, lambda m: F.when(m < p, m)),
    )


def minhash_signature_sql_duckdb(
    expr: str, num_hashes: int = 16, hash_fn: str = "hash60"
) -> str:
    sh = word_shingles_sql_duckdb(expr)
    if hash_fn == "xxhash64":
        # Spark side is F.pmod(F.xxhash64(s), P): signed hash, pmod
        xx = xxhash64_duckdb("s")
        base = f"((({xx}) % {_MH_PRIME} + {_MH_PRIME}) % {_MH_PRIME})"
    else:
        base = f"({hash60_duckdb('s')}) % {_MH_PRIME}"
    mins = ", ".join(
        f"list_min(list_transform(__h, h -> "
        f"(h * {_mh_a(i)} + {_mh_b(i)}) % {_MH_PRIME}))"
        for i in range(num_hashes)
    )
    return (
        f"(SELECT [{mins}] FROM (SELECT list_transform(__sh, "
        f"s -> {base}) AS __h "
        f"FROM (SELECT {sh} AS __sh) __t0) __t)"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 200,
    hash_fn: str = "hash60",
    candidate_partitions: int | None = None,
    auto_partitions: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding + exact-signature
    Jaccard estimate filter.

    ``max_bucket`` guards against skew: a band bucket holding more
    than this many docs (boilerplate/empty text collapsing to one
    signature) is dropped rather than joined quadratically — the
    standard LSH skew mitigation. The oracle mirrors the cap.

    Plan shape (the 100 TB path):
      1. narrow: signature per row (no shuffle)
      2. explode to ``bands`` rows, key = (band_idx, hash(band slice))
      3. shuffle by band key; within each bucket, self-join
         (bucket sizes ~ collision rate, never all-pairs)
      4. estimate jaccard = matching signature positions / num_hashes
         and filter; dedup pairs via left_id < right_id.
    """
    from pyspark.sql.window import Window

    rows_per_band = num_hashes // bands
    # size the shuffle from the RAW scan's row count, BEFORE _spread:
    # counting the spread frame executes its round-robin exchange
    # (plus sort-before-repartition) just to learn a row count the
    # un-spread scan answers from parquet metadata (r11 opt, §2.4).
    n_docs = 0
    if candidate_partitions is None and auto_partitions:
        n_docs = df.count()
    # single-lineage plan — no persist to leak: the signature (one
    # fold over the shingle hashes) is evaluated exactly once because
    # the bucket-local pair generation below never self-joins the
    # signature frame.
    df = _spread(df)
    d = df.select(
        F.col(id_col).alias("_id"),
        minhash_signature(
            F.col(text_col), num_hashes, hash_fn=hash_fn
        ).alias("_sig"),
    )

    def _band_key(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(
                    F.col("_sig"), b * rows_per_band + 1, rows_per_band
                ),
                lambda x: x.cast("string"),
            ),
        )
        # the band bucket key only needs to be deterministic — use
        # the same family as the shingle hash so an xxhash64 run has
        # zero md5 anywhere in the plan
        return (
            hash60(joined) if hash_fn == "hash60" else F.xxhash64(joined)
        )

    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"), _band_key(b).alias("bkey")
            )
            for b in range(bands)
        ]
    )
    e = d.select("_id", "_sig", F.explode(band_keys).alias("bk")).select(
        "_id", "_sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )
    # r11 (the derived-partitions engine default, SCALE.md finding 3
    # promoted): size the one (band, bkey) shuffle to the banded-row
    # volume — each row carries the signature array (~8*num_hashes B)
    # plus keys — instead of inheriting the session's static setting
    parts = candidate_partitions
    if parts is None and auto_partitions:
        from ..session import derived_shuffle_partitions

        want = derived_shuffle_partitions(
            n_docs * bands, row_bytes=8 * num_hashes + 32
        )
        sess = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        if want > sess:
            parts = want
    if parts:
        e = e.repartition(parts, "band", "bkey")
    # ONE shuffle by (band, bkey): the windowed count drops
    # boilerplate mega-buckets (skew cap) BEFORE any buffering of
    # bucket contents, then the groupBy reuses the same partitioning
    # (no second exchange) and collects each surviving bucket —
    # bounded at max_bucket rows — for local quadratic pair
    # generation. This replaces the previous sizes-aggregate join +
    # bucket self-join, which evaluated the signature lineage three
    # times (hence needed a persist that leaked cached partitions).
    if max_bucket:
        w = Window.partitionBy("band", "bkey")
        e = (
            e.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    grouped = e.groupBy("band", "bkey").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_id"), F.col("_sig")))
        ).alias("_items")
    )
    items = F.col("_items")
    # all (i, j>i) pairs within the bucket; items sorted by _id so
    # left_id < right_id by construction
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("l"), y.alias("r")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.l._id").alias("left_id"),
            F.col("p.r._id").alias("right_id"),
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("p.l._sig"),
                            F.col("p.r._sig"),
                            lambda a, b: a == b,
                        ),
                        lambda x: x,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
        .filter(F.col("left_id") < F.col("right_id"))
        .distinct()  # same pair can collide in several bands
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            "left_id",
            "right_id",
            F.round(F.col("est_jaccard"), 4).alias("est_jaccard"),
        )
    )
    return pairs


def minhash_lsh_pairs_oracle_sql(
    table: str = "documents",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 200,
    hash_fn: str = "hash60",
) -> str:
    rpb = num_hashes // bands
    sig = minhash_signature_sql_duckdb("text", num_hashes, hash_fn)
    joined = (
        f"array_to_string(list_transform("
        f"_sig[t.b*{rpb}+1 : t.b*{rpb}+{rpb}], "
        f"x -> cast(x as varchar)), ',')"
    )
    band_key = (
        xxhash64_duckdb(joined)
        if hash_fn == "xxhash64"
        else hash60_duckdb(joined)
    )
    band_list = ",".join(str(b) for b in range(bands))
    return f"""
WITH sigs AS (
  SELECT doc_id AS _id, {sig} AS _sig FROM {table}
),
bandtab0 AS (
  SELECT _id, _sig, t.b AS band, {band_key} AS bkey
  FROM sigs, (SELECT unnest([{band_list}]) AS b) t
),
bandtab AS (
  SELECT b0.* FROM bandtab0 b0
  JOIN (SELECT band, bkey FROM bandtab0
        GROUP BY band, bkey HAVING count(*) <= {max_bucket}) ok
  USING (band, bkey)
),
cand AS (
  SELECT DISTINCT l._id AS left_id, r._id AS right_id,
         len(list_filter(range(1, {num_hashes + 1}),
             i -> l._sig[i] = r._sig[i]))::DOUBLE / {num_hashes} AS est_jaccard
  FROM bandtab l JOIN bandtab r
    ON l.band = r.band AND l.bkey = r.bkey AND l._id < r._id
)
SELECT left_id, right_id, round(est_jaccard, 4) AS est_jaccard
FROM cand WHERE est_jaccard >= {threshold}
"""


def simhash(c: Column, bits: int = 60) -> Column:
    """SimHash signature over word tokens: per bit, sign of the sum of
    +/-1 votes from each token's hash.

    Single fold: ONE pass over the token-hash array accumulates all
    ``bits`` vote counters (array of longs, zip_with merge), then one
    weighted pass over the counter array packs the sign bits. The
    naive shape — ``bits`` independent F.aggregate folds — re-walks
    the array per bit: O(bits * tokens) with ``bits`` expression-tree
    traversals; this is O(tokens + bits) traversals for the same
    result (votes_b > 0 <=> counter_b > 0, so the oracle SQL is
    unchanged)."""
    toks = F.array_distinct(
        F.split(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), " ")
    )
    hashes = F.transform(toks, lambda t: hash60(t))

    def votes(h: Column) -> Column:
        # +1/-1 per bit of this token's hash (constant masks,
        # Python-unrolled once into a single array constructor)
        return F.array(
            *[
                F.when(h.bitwiseAND(F.lit(1 << b).cast("long")) != 0, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(bits)
            ]
        )

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
    )
    weights = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    return F.aggregate(
        F.zip_with(
            counts,
            weights,
            lambda cnt, w: F.when(cnt > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash_sql_duckdb(expr: str, bits: int = 60) -> str:
    toks = (
        f"list_distinct(string_split(regexp_replace(lower(trim({expr})),"
        f" '\\s+', ' ', 'g'), ' '))"
    )
    hashes = f"list_transform({toks}, t -> {hash60_duckdb('t')})"
    terms = []
    for b in range(bits):
        votes = (
            f"list_sum(list_transform(__h, h -> CASE WHEN (h >> {b}) & 1 = 1"
            f" THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN ({votes}) > 0 THEN {1 << b}::BIGINT ELSE 0 END")
    total = " + ".join(terms)
    return f"(SELECT {total} FROM (SELECT {hashes} AS __h) __t)"


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact k-word-gram Jaccard similarity between doc pairs within
    blocking-key groups (never all-pairs: the block is the unit of
    quadratic work — at scale, blocks come from LSH buckets)."""
    sh = word_shingles(F.col(text_col), k)
    d = df.select(
        F.col(id_col).alias("_id"), *block_cols, sh.alias("_sh")
    )
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols]
    pairs = (
        d.alias("l")
        .join(d.alias("r"), cond + [F.col("l._id") < F.col("r._id")])
        .select(
            F.col("l._id").alias("left_id"),
            F.col("r._id").alias("right_id"),
            (
                F.size(F.array_intersect(F.col("l._sh"), F.col("r._sh")))
                / F.size(F.array_union(F.col("l._sh"), F.col("r._sh")))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "left_id",
            "right_id",
            F.round(F.col("jaccard"), 4).alias("jaccard"),
        )
    )
    return pairs


def ngram_jaccard_pairs_oracle_sql(
    table: str,
    block_cols: list[str],
    k: int = 3,
    threshold: float = 0.2,
) -> str:
    sh = word_shingles_sql_duckdb("text", k)
    block_join = " AND ".join(f"l.{c} = r.{c}" for c in block_cols)
    return f"""
WITH d AS (SELECT doc_id AS _id, {', '.join(block_cols)}, {sh} AS _sh FROM {table})
SELECT l._id AS left_id, r._id AS right_id,
       round(len(list_intersect(l._sh, r._sh))::DOUBLE
            / len(list_distinct(list_concat(l._sh, r._sh))), 4) AS jaccard
FROM d l JOIN d r ON {block_join} AND l._id < r._id
WHERE len(list_intersect(l._sh, r._sh))::DOUBLE
      / len(list_distinct(list_concat(l._sh, r._sh))) >= {threshold}
"""


def incremental_dedup(
    df: DataFrame,
    split_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch (id >= ``split_id``) against the existing
    corpus (id < ``split_id``) AND within itself — the steady-state
    shape of a continuously-ingesting training pipeline, where each
    arriving crawl snapshot must not re-admit content the corpus
    already holds.

    Output (batch rows only): (doc_id, keep, dup_of) with dup_of =
    the smallest doc_id sharing the content hash (NULL when the doc
    is first-of-its-content).

    Scale: one hash-agg over (hash, id) + one join on uniform 60-bit
    keys — the corpus text itself is never reshuffled. At 100 TB the
    base corpus's (hash -> min id) index is computed once and
    persisted (it is exactly the ``canon`` aggregate below); each
    batch then joins against the stored index instead of rescanning
    the corpus."""
    h = hash60(F.col(text_col))
    hashed = df.select(h.alias("_h"), F.col(id_col).alias("doc_id"))
    canon = hashed.groupBy("_h").agg(F.min("doc_id").alias("_first"))
    batch = hashed.filter(F.col("doc_id") >= split_id)
    return batch.join(canon, "_h").select(
        "doc_id",
        (F.col("doc_id") == F.col("_first")).alias("keep"),
        F.when(F.col("doc_id") != F.col("_first"), F.col("_first")).alias(
            "dup_of"
        ),
    )


def incremental_dedup_oracle_sql(
    split_id: int, table: str = "documents"
) -> str:
    h = hash60_duckdb("text")
    return f"""
WITH hashed AS (SELECT {h} AS _h, doc_id FROM {table}),
canon AS (SELECT _h, min(doc_id) AS _first FROM hashed GROUP BY _h)
SELECT doc_id, doc_id = _first AS keep,
       CASE WHEN doc_id <> _first THEN _first END AS dup_of
FROM hashed JOIN canon USING (_h)
WHERE doc_id >= {split_id}
"""


# ---------------------------------------------------------------------------
# cross-document duplicated spans (substring-dedup signal)
# ---------------------------------------------------------------------------


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Per-document coverage by k-gram spans that also occur in OTHER
    documents — the core signal of exact-substring deduplication
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", which removes 50-token spans duplicated across
    the corpus; their suffix-array pass maps to a k-gram-hash
    equi-join here). Returns (doc_id, n_grams, dup_grams, dup_frac):
    positions whose k-gram hash appears in >= 2 distinct documents.

    Scale shape: one narrow projection emits (doc, pos, gram-hash);
    ONE shuffle groups by the uniform 60-bit hash (map-side combined
    distinct-doc count), and one join keyed by hash brings the
    cross-doc grams back — the corpus text itself is never shuffled,
    only fixed-width (doc, pos, hash) triples. Collisions are the
    same md5-derived hash60 on both engines, so the oracle matches
    bit-for-bit even on the (negligible) collision path."""
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        " ",
    )

    # only the hash leaves the row: positions are counted by row
    # multiplicity (explode preserves duplicates), so shipping a pos
    # column through the dominant hash-keyed shuffle would be waste.
    # The token array is let-bound (tokenize once per row, not once
    # per gram), and n_grams == size(grams) by construction.
    def grams(t: Column) -> Column:
        n = F.size(t)
        idx = F.when(
            n >= k, F.sequence(F.lit(1), n - (k - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: hash60(F.concat_ws(" ", F.slice(t, i, k)))
        )

    base = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        let(toks, grams).alias("_g"),
    ).select("doc_id", F.size("_g").alias("n_grams"), "_g")
    e = base.select("doc_id", F.explode("_g").alias("h"))
    cross = (
        e.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("h")
    )
    dup = (
        e.join(cross, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_grams"))
    )
    return (
        base.select("doc_id", "n_grams")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("dup_grams"), F.lit(0))
            .cast("long")
            .alias("dup_grams"),
            F.round(
                F.when(
                    F.col("n_grams") > 0,
                    F.coalesce(F.col("dup_grams"), F.lit(0))
                    / F.col("n_grams"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_frac"),
        )
    )


def duplicate_spans_sql_duckdb(
    table: str = "documents", k: int = 8
) -> str:
    """ANSI twin: same tokenization, same hash60 gram hashes."""
    gram = f"array_to_string(t[pos:pos+{k - 1}], ' ')"
    h = hash60_duckdb(gram)
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)),
                      '\\s+', ' ', 'g'), ' ') AS t
  FROM {table}
), tot AS (
  SELECT doc_id, greatest(len(t) - {k - 1}, 0) AS n_grams FROM toks
), g AS (
  SELECT doc_id, pos, {h} AS h FROM (
    SELECT doc_id, unnest(range(1, len(t) - {k - 1} + 1)) AS pos, t
    FROM toks
  )
), cross_grams AS (
  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), dup AS (
  SELECT g.doc_id, count(*) AS dup_grams
  FROM g JOIN cross_grams USING (h) GROUP BY g.doc_id
)
SELECT tot.doc_id,
       cast(tot.n_grams AS INTEGER) AS n_grams,
       cast(coalesce(dup.dup_grams, 0) AS BIGINT) AS dup_grams,
       round(CASE WHEN tot.n_grams > 0
             THEN coalesce(dup.dup_grams, 0)::DOUBLE / tot.n_grams
             ELSE 0.0 END, 4) AS dup_frac
FROM tot LEFT JOIN dup USING (doc_id)
"""


def _simhash_block_combos(
    bits: int, n_bands: int, max_hamming: int
) -> list[tuple[int, ...]]:
    """Validated block-combination list for the generalized Manku
    banding: every size-(n_bands - max_hamming) subset of the
    ``n_bands`` signature blocks becomes one equi-join key.

    Pigeonhole proof of no-loss: a pair within hamming
    ``max_hamming`` has differing bits in at most ``max_hamming``
    blocks, so at least ``n_bands - max_hamming`` blocks are
    byte-identical — and every size-(n_bands - max_hamming) subset of
    blocks is one of our keys, so at least one key collides.
    The classic one-block banding (reference behavior for small
    corpora) is exactly the special case ``n_bands = max_hamming+1``
    (agree = 1, combos = the blocks themselves)."""
    if max_hamming >= n_bands:
        raise ValueError(
            "pigeonhole guarantee needs max_hamming < n_bands"
        )
    if bits % n_bands:
        raise ValueError("n_bands must divide bits")
    agree = n_bands - max_hamming
    band_bits = bits // n_bands
    if agree * band_bits > 62:
        raise ValueError(
            "combination key wider than a long: "
            f"(n_bands - max_hamming) * (bits / n_bands) = "
            f"{agree * band_bits} > 62"
        )
    from itertools import combinations

    return list(combinations(range(n_bands), agree))


def _simhash_min_combo_lut(
    combos: list[tuple[int, ...]], n_bands: int
) -> list[int]:
    """2^n_bands-entry lookup: index = zero-block bitmap of a pair's
    sig XOR (bit b set <=> signature block b identical); value = the
    MINIMAL combo index whose blocks are all inside the bitmap, or -1
    when no combo agrees (never hit for bucket-collided pairs). Turns
    the emit-once rule into one array index instead of a
    C(n_bands, agree)-branch conditional."""
    lut = []
    for zb in range(1 << n_bands):
        mb = -1
        for ci, combo in enumerate(combos):
            if all((zb >> b) & 1 for b in combo):
                mb = ci
                break
        lut.append(mb)
    return lut


def simhash_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 60,
    n_bands: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 256,
    candidate_partitions: int | None = None,
    auto_partitions: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance — the
    web-crawl dedup of Manku et al. 2007 (*Detecting Near-Duplicates
    for Web Crawling*): two docs are near-dups when their ``bits``-bit
    signatures differ in at most ``max_hamming`` bit positions.

    Combination banding gives the candidate set WITHOUT an all-pairs
    join: split each signature into ``n_bands`` blocks; by
    pigeonhole, any pair within hamming ``max_hamming < n_bands``
    agrees exactly on at least ``n_bands - max_hamming`` whole
    blocks, so an equi-join per size-(n_bands - max_hamming) block
    COMBINATION finds every true pair (Manku's table construction;
    one-block banding is the degenerate case n_bands = max_hamming+1).
    Output: (left_id, right_id, hamming), left < right.

    Scale shape: the combination keys are (n_bands - max_hamming) *
    (bits / n_bands) wide — 30 bits at the 60/6/3 default, i.e. a
    2^30 key space vs one block's 2^10/2^15. Expected candidate
    pairs per key table are n^2 / 2^key_bits: the measured r9
    blowup (32-bit/4-band = 2^8 keys saturating at 64x, 1.25B
    candidates — docs/SCALE.md finding 4) is structurally impossible
    below ~10M docs per shard at the new default. The shuffle
    carries C(n_bands, max_hamming) rows/doc of a few longs (20 at
    the default — 5x the old 4, a linear cost paid to erase a
    quadratic one).

    ONE corpus-scale pass and shuffle; every later exchange moves
    only materialized banded longs (r11 rework — the r10 curve
    measured the old candidate ``.distinct()`` spilling at 1024x,
    docs/SCALE.md finding 3):
      1. banded rows shuffle once by (band, val); when
         ``auto_partitions`` the stage requests
         ``derived_shuffle_partitions(n_docs * n_keys)`` partitions
         (one cheap ``df.count()``) instead of inheriting the
         session's static setting — pass ``candidate_partitions`` to
         pin it, or ``auto_partitions=False`` to skip the count job
         on frames with expensive lineage.
      2. a windowed count over the SAME partitioning drops hot
         buckets > ``max_bucket`` docs (boilerplate cliques collapse
         to one key in EVERY combo table, so a degenerate corpus
         would otherwise go quadratic regardless of the 2^30 key
         space — same guard as ``minhash_lsh_pairs``).
      3. the capped frame is materialized once (lazy localCheckpoint
         of the banded longs — never the text), so the corpus is
         scanned and signed exactly once; the equi self-join then
         shuffles only materialized long keys (SHUFFLE_HASH: bounded
         per-partition builds, no sort) and STREAMS bucket-local
         pairs — bounded at max_bucket^2 per bucket. (A plain
         self-join re-executed the whole signature lineage on its
         broadcast side — measured 3x slower at sf0.1.)
      4. each true pair collides in up to C(n_bands, max_hamming)
         buckets; instead of a second candidate-volume shuffle for
         ``.distinct()``, a pair is emitted ONLY from its MINIMAL
         agreeing combo. The check is O(1) arithmetic: a 6-bit
         zero-block bitmap of sig XOR indexes a precomputed
         2^n_bands-entry min-combo lookup array (an r11 measurement
         found the naive 20-branch when-chain formulation costing
         ~4x the whole rest of the pipeline). Consequence under the
         cap: a pair whose minimal agreeing combo sits in a dropped
         hot bucket is dropped even if a later combo's bucket
         survived (conservative; exact-dup cliques agree on combo 0,
         which is precisely the bucket the cap targets). The DuckDB
         twin mirrors cap + bitmap/LUT rule exactly."""
    combos = _simhash_block_combos(bits, n_bands, max_hamming)
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    from pyspark.sql.window import Window

    # size the shuffle from the RAW scan's row count, BEFORE _spread:
    # counting the spread frame executes its round-robin exchange
    # (plus the sort-before-repartition) just to learn a row count the
    # un-spread scan answers from parquet metadata (r11 opt, guide §2.4
    # — an Exchange that computes nothing the query needs).
    n_docs = 0
    if candidate_partitions is None and auto_partitions:
        n_docs = df.count()
    df = _spread(df)
    sigs = df.select(
        F.col(id_col).alias("doc_id"),
        simhash(F.col(text_col), bits).alias("sig"),
    )

    def combo_key(combo: tuple[int, ...]) -> Column:
        # concatenate the combo's block values into one long key
        k = F.lit(0).cast("long")
        for j, b in enumerate(combo):
            blk = (
                F.shiftright(F.col("sig"), b * band_bits)
                .bitwiseAND(F.lit(mask))
            )
            k = k + F.shiftleft(blk, j * band_bits)
        return k

    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("band"),
                        combo_key(c).alias("val"),
                    )
                    for ci, c in enumerate(combos)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sig", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    parts = candidate_partitions
    if parts is None and auto_partitions:
        from ..session import derived_shuffle_partitions

        # banded row ~= 40 B in shuffle (2 longs + int + long key)
        want = derived_shuffle_partitions(
            n_docs * len(combos), row_bytes=40
        )
        sess = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        if want > sess:
            parts = want
    if parts:
        # explicit hash partitioning on the bucket key: the window,
        # and the groupBy after it, both cluster on (band, val) so
        # this single exchange serves every downstream stage
        bands = bands.repartition(parts, "band", "val")
    if max_bucket:
        w = Window.partitionBy("band", "val")
        bands = (
            bands.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    lut = F.array(
        *[F.lit(v) for v in _simhash_min_combo_lut(combos, n_bands)]
    )

    def zero_block_bitmap(x: Column) -> Column:
        # bit b set <=> block b of the XOR is all-zero (6 tiny terms)
        z = F.lit(0)
        for b in range(n_bands):
            z = z + F.shiftleft(
                (
                    F.shiftright(x, b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    == 0
                ).cast("int"),
                b,
            )
        return z

    # Materialize the capped band frame ONCE, then self-join from the
    # materialized rows (r11 opt, guide §2.4/§3.1/§5). The previous
    # plain self-join was planned as a BroadcastHashJoin from the
    # capped frame's (small) size estimate, and the broadcast side
    # RE-EXECUTED the entire scan→simhash→explode→window lineage —
    # the measured before-plan carried two parquet scans and two full
    # signature passes (neither a MERGE hint nor AQE folded them into
    # a ReusedExchange in Spark 4.1). The lazy localCheckpoint pins
    # the banded rows (a few dozen bytes per doc per combo — the
    # corpus TEXT is never stored), so the corpus is scanned and
    # signed exactly once; the join then shuffles only long keys from
    # memory. SHUFFLE_HASH beats sort-merge here: both join inputs
    # are the same bounded-bucket frame and each post-shuffle
    # partition is sized by derived_shuffle_partitions above, so the
    # per-partition hash build is bounded and no sort is needed.
    # Interleaved sf0.1 A/B (4 reps): BHJ-dup 1.33 s, SMJ-dup 0.76,
    # localCheckpoint+SHJ 0.44 — and one corpus pass instead of two.
    # Fault-tolerance trade-off (deliberate): localCheckpoint stores
    # non-replicated executor-local blocks and TRUNCATES lineage, so
    # losing an executor mid-query fails the job instead of
    # recomputing — acceptable for this bounded banded-longs
    # intermediate (re-running the query is cheaper than keeping the
    # double-scan plan), but a 100 TB deployment with routine
    # executor churn should swap in persist(MEMORY_AND_DISK) + an
    # explicit reliable checkpoint dir if job restarts are costly.
    bands = bands.localCheckpoint(eager=False)
    # the join shuffles the same banded volume as the window stage,
    # so it gets the same derived width (the checkpoint erased the
    # upstream partitioning knowledge; without this the join's
    # ENSURE_REQUIREMENTS exchanges would fall back to the session's
    # static shuffle_partitions — the exact cliff finding 3 measured)
    width = parts or int(
        bands.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    left = bands.repartition(width, "band", "val").alias("l")
    right = (
        bands.repartition(width, "band", "val")
        .alias("r")
        .hint("shuffle_hash")
    )
    x = F.col("l.sig").bitwiseXOR(F.col("r.sig"))
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .filter(F.bit_count(x) <= max_hamming)
        .filter(
            F.col("l.band") == F.element_at(lut, zero_block_bitmap(x) + 1)
        )
        .select(
            F.col("l.doc_id").alias("left_id"),
            F.col("r.doc_id").alias("right_id"),
            F.bit_count(x).cast("int").alias("hamming"),
        )
    )
    return pairs


def simhash_dup_pairs_sql_duckdb(
    table: str,
    max_hamming: int = 3,
    bits: int = 60,
    n_bands: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 256,
) -> str:
    """DuckDB twin of simhash_dup_pairs — identical signature, block
    combination keys, pigeonhole join, hamming cut, hot-bucket cap
    and minimal-agreeing-combo dedup via the same zero-block-bitmap
    lookup array (lockstep with the Spark plan: a pair whose minimal
    agreeing combo fell in a dropped hot bucket is dropped even if a
    later combo's bucket survived)."""
    combos = _simhash_block_combos(bits, n_bands, max_hamming)
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sig = simhash_sql_duckdb(text_col, bits)
    branches = []
    for ci, combo in enumerate(combos):
        key = " + ".join(
            f"(((sig >> {b * band_bits}) & {mask}) << {j * band_bits})"
            for j, b in enumerate(combo)
        )
        branches.append(
            f"SELECT doc_id, sig, {ci} AS band, ({key}) AS val FROM sigs"
        )
    bands = "\n  UNION ALL\n  ".join(branches)
    cap = (
        f"SELECT * FROM bands QUALIFY count(*) OVER "
        f"(PARTITION BY band, val) <= {max_bucket}"
        if max_bucket
        else "SELECT * FROM bands"
    )
    x = "xor(l.sig, r.sig)"
    zb = " + ".join(
        f"(CASE WHEN ((({x}) >> {b * band_bits}) & {mask}) = 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(n_bands)
    )
    lut = ", ".join(
        str(v) for v in _simhash_min_combo_lut(combos, n_bands)
    )
    return f"""
WITH sigs AS (
  SELECT {id_col} AS doc_id, {sig} AS sig FROM {table}
),
bands AS (
  {bands}
),
capped AS (
  {cap}
)
SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       cast(bit_count({x}) AS INTEGER) AS hamming
FROM capped l JOIN capped r
  ON l.band = r.band AND l.val = r.val AND l.doc_id < r.doc_id
WHERE bit_count({x}) <= {max_hamming}
  AND l.band = ([{lut}])[({zb}) + 1]
"""


def jaccard_join_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num: int = 1,
    den: int = 2,
    verify_partitions: int | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard similarity join with prefix filtering
    (Chaudhuri et al. ICDE 2006; Bayardo et al. WWW 2007 "Scaling Up
    All Pairs"): documents whose word-token sets have Jaccard
    similarity >= num/den, with NO false negatives — the exact
    complement to the probabilistic MinHash-LSH path.

    Prefix filter: order each document's tokens by ascending corpus
    document-frequency (rarest first, ties by token); two sets with
    J >= t MUST share a token within each side's first
    ``|s| - ceil(t*|s|) + 1`` tokens, so the candidate join runs on
    prefix tokens only — rare tokens, small buckets — instead of all
    tokens or all pairs.

    The threshold is a rational ``num/den`` and every comparison is
    integer cross-multiplication (``den*inter >= num*union``,
    ``prefix = sz - ceil(num*sz/den) + 1`` via integer ceil-div), so
    the cut is bit-exact on both engines — no float boundary rows.

    100 TB scale: the only corpus-wide shuffles carry (token, doc_id)
    pairs; document-frequency ranking is a token-keyed aggregate
    joined back (no driver collect); the quadratic step is confined
    to per-prefix-token buckets, which the rarest-first order keeps
    small. Verification joins token-set arrays for candidate pairs
    only.
    """
    toks = F.array_distinct(
        F.filter(
            F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "),
            lambda x: x != "",
        )
    )
    d = _spread(df).select(F.col(id_col).alias("doc_id"), toks.alias("st"))
    # set size travels WITH the exploded rows (known pre-explode), so
    # the per-doc window computes only row_number, not a second
    # whole-partition count aggregate
    flat = d.select(
        "doc_id", F.size("st").alias("_sz"), F.explode("st").alias("tok")
    )
    freq = flat.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql import Window

    wdoc = Window.partitionBy("doc_id").orderBy("_df", "tok")
    ranked = flat.join(freq, "tok").withColumn(
        "_rn", F.row_number().over(wdoc)
    )
    # prefix length = sz - ceil(t*sz) + 1, integer ceil-division
    plen = F.col("_sz") - F.floor(
        (F.lit(int(num)) * F.col("_sz") + F.lit(int(den) - 1)) / F.lit(int(den))
    ) + F.lit(1)
    prefix = ranked.filter(F.col("_rn") <= plen).select("doc_id", "tok")
    cand = (
        prefix.alias("l")
        .join(
            prefix.alias("r"),
            (F.col("l.tok") == F.col("r.tok"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("left_id"),
            F.col("r.doc_id").alias("right_id"),
        )
        # Pin the dedup+verify width: candidate rows are 16-byte id
        # pairs, so AQE's byte-based coalescing happily squashes them
        # onto one task — but the downstream work per row is a
        # token-SET intersection, compute-bound, not byte-bound. A
        # fixed-count repartition on the distinct keys disables the
        # coalesce for exactly this exchange; the distinct's final
        # aggregate then reuses the same partitioning at the same
        # width. Default 2x parallelism fits bench-scale candidate
        # volumes; on a big cluster pass verify_partitions scaled to
        # the expected candidate count (~50k pairs/partition) so a
        # huge candidate set is not underpartitioned by the default.
        .repartition(
            int(verify_partitions)
            if verify_partitions
            else df.sparkSession.sparkContext.defaultParallelism * 2,
            "left_id",
            "right_id",
        )
        .distinct()
    )
    lsets = d.select(
        F.col("doc_id").alias("left_id"), F.col("st").alias("_ls")
    )
    rsets = d.select(
        F.col("doc_id").alias("right_id"), F.col("st").alias("_rs")
    )
    inter = F.size(F.array_intersect(F.col("_ls"), F.col("_rs")))
    uni = (
        F.size(F.col("_ls")) + F.size(F.col("_rs")) - inter
    )
    return (
        cand.join(lsets, "left_id")
        .join(rsets, "right_id")
        .withColumn("_i", inter)
        .withColumn("_u", uni)
        .filter(
            F.lit(int(den)) * F.col("_i") >= F.lit(int(num)) * F.col("_u")
        )
        .select(
            "left_id",
            "right_id",
            F.round(F.col("_i") / F.col("_u"), 4).alias("jaccard"),
        )
    )


def jaccard_join_prefix_oracle_sql(
    table: str = "documents", num: int = 1, den: int = 2
) -> str:
    toks = (
        "list_distinct(list_filter(string_split(regexp_replace("
        "lower(trim(text)), '\\s+', ' ', 'g'), ' '), x -> x <> ''))"
    )
    return f"""
WITH d AS (SELECT doc_id, {toks} AS st FROM {table}),
flat AS (SELECT doc_id, unnest(st) AS tok FROM d),
freq AS (SELECT tok, count(*) AS _df FROM flat GROUP BY tok),
ranked AS (
  SELECT f.doc_id, f.tok,
         row_number() OVER (PARTITION BY f.doc_id
                            ORDER BY q._df, f.tok) AS _rn,
         count(*) OVER (PARTITION BY f.doc_id) AS _sz
  FROM flat f JOIN freq q USING (tok)
),
prefix AS (
  SELECT doc_id, tok FROM ranked
  WHERE _rn <= _sz - (({num} * _sz + {den - 1}) // {den}) + 1
),
cand AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM prefix l JOIN prefix r
    ON l.tok = r.tok AND l.doc_id < r.doc_id
),
scored AS (
  SELECT c.left_id, c.right_id,
         len(list_intersect(ld.st, rd.st)) AS _i,
         len(ld.st) + len(rd.st) - len(list_intersect(ld.st, rd.st)) AS _u
  FROM cand c
  JOIN d ld ON ld.doc_id = c.left_id
  JOIN d rd ON rd.doc_id = c.right_id
)
SELECT left_id, right_id, round(_i::DOUBLE / _u, 4) AS jaccard
FROM scored WHERE {den} * _i >= {num} * _u
"""


# ---------------------------------------------------------------------------
# Blocked fuzzy matching (edit-distance entity resolution)
# ---------------------------------------------------------------------------


def fuzzy_match_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_dist: int = 3,
    max_block: int = 200,
) -> DataFrame:
    """Entity-resolution candidate pairs by Levenshtein distance
    within blocks — the classic blocked fuzzy join: rows sharing a
    block key (here the LAST token of the name, the head noun in
    noun-phrase names) are compared pairwise and kept when the full
    names are within ``max_dist`` edits.

    Both engines implement the same Levenshtein metric as a builtin
    (integer result — no float anywhere), so the cut is engine-exact.

    Scale shape: the quadratic step is confined to blocks; blocks
    larger than ``max_block`` are dropped before pairing (the same
    skew cap as LSH buckets — a degenerate mega-block means the
    blocking key is wrong, not that O(B^2) work is right). Only
    (block, id, name) triples shuffle.

    Output: (id_a, id_b, name_a, name_b, edit_dist), id_a < id_b.
    """
    block = F.element_at(F.split(F.col(name_col), " "), -1)
    b = _spread(df).select(
        F.col(id_col).alias("id"),
        F.col(name_col).alias("name"),
        block.alias("_blk"),
    )
    sizes = (
        b.groupBy("_blk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= int(max_block))
        .select("_blk")
    )
    b = b.join(sizes, "_blk")
    pairs = (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l._blk") == F.col("r._blk"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.name").alias("name_a"),
            F.col("r.name").alias("name_b"),
            F.levenshtein(F.col("l.name"), F.col("r.name")).alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") <= int(max_dist))
    )
    return pairs


def fuzzy_match_pairs_oracle_sql(
    table: str,
    name_col: str,
    id_col: str,
    max_dist: int = 3,
    max_block: int = 200,
) -> str:
    """DuckDB twin — identical blocking, cap and integer metric."""
    return f"""
WITH b0 AS (
  SELECT {id_col} AS id, {name_col} AS name,
         list_extract(string_split({name_col}, ' '), -1) AS _blk
  FROM {table}
),
ok AS (
  SELECT _blk FROM b0 GROUP BY _blk HAVING count(*) <= {int(max_block)}
),
b AS (SELECT b0.* FROM b0 JOIN ok USING (_blk))
SELECT l.id AS id_a, r.id AS id_b,
       l.name AS name_a, r.name AS name_b,
       cast(levenshtein(l.name, r.name) AS INT) AS edit_dist
FROM b l JOIN b r ON l._blk = r._blk AND l.id < r.id
WHERE levenshtein(l.name, r.name) <= {int(max_dist)}
"""
