"""Deduplication operators for LLM training-data pipelines.

Five families (BASELINE.json north-star; no reference equivalent — the
reference is a pure SQL engine):

- **exact**: hash-groupBy on (normalized) content. One shuffle on the
  content hash; at 100 TB the md5 key (16 bytes) shuffles, never the text.
- **MinHash + LSH**: shingle -> k minhashes -> band buckets -> candidate
  pairs -> exact-Jaccard verify. Only band-bucket collisions shuffle as
  pairs; the full n^2 never materializes.
- **SimHash**: 64-bit signature via per-bit token-hash majority; banded
  pigeonhole join (hamming<=d implies some band equal), then exact
  hamming via xor bit_count.
- **n-gram Jaccard**: exact pairwise Jaccard over shared shingles
  (inverted-index join). Exact but O(sum of bucket^2): use for bounded
  candidate sets; MinHash is the scale path.
- **embedding cosine**: near-dup by cosine over `array<float>` vectors;
  brute pairs for bounded sets, LSH-bucketed variant in
  :mod:`pyblazing_spark.operators.similarity` for scale.

All signatures are computed with JVM built-ins (xxhash64, transform,
aggregate) — no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyblazing_spark.functions import text as TXT
from pyblazing_spark.functions import vectors as VEC


# --------------------------------------------------------------- exact
def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalized: bool = True
) -> DataFrame:
    """Keep one representative (min id) per identical (normalized) text.

    Shuffles only (hash, id); the winning ids then semi-join the input.
    """
    key = TXT.fingerprint(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    winners = (
        df.select(key.alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def duplicate_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalized: bool = True
) -> DataFrame:
    """(fingerprint, n_docs, keep_id) for every content group."""
    key = TXT.fingerprint(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    return (
        df.select(key.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


# ------------------------------------------------------------- minhash
#: Bucket size above which in-bucket pair expansion switches from
#: all-pairs to a star on the bucket minimum. 256 keeps the worst
#: per-bucket expansion at 32,640 pairs (~0.5 MB of id structs).
STAR_ABOVE = 256


def _all_pairs_expr(arr: Column) -> Column:
    """All ordered (id_a < id_b) pairs of a sorted id array."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _bucket_pairs(
    ids: Column, star_above: int = STAR_ABOVE, hubs: int = 1
) -> Column:
    """Candidate (id_a < id_b) pairs from a sorted id array, as structs.

    Buckets up to ``star_above`` ids expand to ALL pairs; larger
    (degenerate) buckets — boilerplate or fully-identical corpora can
    drive millions of docs into one band bucket, where all-pairs is
    O(|bucket|²) ≈ 10¹² rows — expand to a STAR on the ``hubs``
    smallest ids instead: all pairs among the hubs, plus (hub, other)
    for every other member — O(hubs·|bucket|) rows.

    What the cap trades away, precisely (ADVICE r9): above the cap,
    a pair of NON-hub members is never emitted, even if the two are
    near-duplicates of each other. Downstream exact verification
    scores candidates against hubs only, so:

    - PAIR recall: exact at or below the cap; above it, only pairs
      with at least one hub endpoint can surface. ``minhash_lsh_pairs``'
      "all pairs >= threshold" contract holds verbatim only for
      buckets <= star_above.
    - CLUSTER recall (greedy dedup): a non-hub member is dropped iff
      it verifies against SOME hub. In a homogeneous degenerate bucket
      (the boilerplate case the cap exists for) every member matches
      hub #1 and nothing is lost. In a HETEROGENEOUS large bucket, two
      members similar to each other but to none of the k hubs both
      survive — a recall miss that requires the pair to independently
      miss all k hubs, so raising ``hubs`` tightens the bound at
      linear cost (k·|bucket| candidates, k² hub pairs).

    Deterministic: ids are sorted, hubs are the global bucket minima."""
    hub_arr = F.slice(ids, 1, hubs)
    spokes = F.flatten(
        F.transform(
            hub_arr,
            lambda h: F.transform(
                F.slice(ids, hubs + 1, F.size(ids)),
                lambda y: F.struct(h.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    star = (
        F.concat(_all_pairs_expr(hub_arr), spokes) if hubs > 1 else spokes
    )
    return F.when(
        F.size(ids) <= F.lit(star_above), _all_pairs_expr(ids)
    ).otherwise(star)


def _hashed_windows_from_tokens(
    df: DataFrame, id_col: str, tokens_col: str, shingle_words: int = 3
) -> DataFrame:
    """(id, __h) from a PRE-TOKENIZED frame: one row per k-token window,
    __h = xxhash64 of the window's tokens (multi-arg — no string
    concat). Entry point for pipelines that tokenize once and persist
    the token arrays (e.g. the corpus-e2e composition), so later dedup/
    decontam stages never re-scan raw text.

    Deliberately row-wise, not array-valued: array-building
    higher-order functions evaluate interpreted (outside whole-stage
    codegen), and Catalyst's InferFiltersFromGenerate + pushdown can
    clone the whole array expression into a per-row Filter — measured
    ~100x slower than this explode + scalar-hash shape."""
    win = df.select(
        id_col,
        F.col(tokens_col).alias("__toks__w"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.lit(0), F.size(tokens_col) - F.lit(shingle_words)),
            )
        ).alias("__i"),
    )
    # try_element_at: docs shorter than the shingle width hash their
    # partial window (plain element_at throws under ANSI for the
    # out-of-range positions).
    return win.select(
        id_col,
        F.xxhash64(
            *[
                F.try_element_at(
                    F.col("__toks__w"), (F.col("__i") + F.lit(j + 1)).cast("int")
                )
                for j in range(shingle_words)
            ]
        ).alias("__h"),
    )


def _hashed_shingle_rows(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int = 3
) -> DataFrame:
    """(id, __h): one row per k-token shingle window of the whitespace
    tokenization of ``text_col`` (see
    :func:`_hashed_windows_from_tokens` for the shape rationale)."""
    toks = df.select(F.col(id_col), TXT.tokens(F.col(text_col)).alias("__toks"))
    return _hashed_windows_from_tokens(toks, id_col, "__toks", shingle_words)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    star_above: int = STAR_ABOVE,
    hubs: int = 1,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Contract fine print: "all pairs >= threshold" is exact for band
    buckets up to ``star_above`` members; larger (degenerate) buckets
    are star-capped, where only pairs with a hub endpoint can surface
    (see :func:`_bucket_pairs` for the precise pair/cluster recall
    statement and the ``hubs`` knob that tightens it).

    Plan shape: explode k-token windows, hash each to a long (pure
    codegen, no arrays) -> 32 map-side-partial MIN aggregates = the
    signature (shuffle: one 32-long row per doc) -> explode band hashes
    -> shuffle on bucket -> collect ids per bucket -> expand in-bucket
    pairs -> distinct -> exact-Jaccard verify on collect_set'd shingle
    hashes. Collect-per-bucket instead of a bucket self-join matters at
    scale: the self-join re-evaluates the signature on both inputs, and
    its join explosion is the same O(bucket^2) anyway. With b=8, r=4 the
    LSH S-curve crosses ~0.6; candidates are verified exactly, so the
    threshold is honest — LSH only bounds recall, never precision.
    """
    hashed = _hashed_shingle_rows(df, text_col, id_col)
    return minhash_pairs_from_hashed(
        hashed, id_col, num_hashes, bands, threshold, star_above, hubs
    )


def minhash_pairs_from_hashed(
    hashed: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    star_above: int = STAR_ABOVE,
    hubs: int = 1,
    materialize=None,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` from pre-hashed shingle rows
    (id, __h) — the composition entry point for pipelines that already
    hold hashed windows (from persisted token arrays via
    :func:`_hashed_windows_from_tokens`), with identical semantics and
    plan shape from the signature aggregation onward.

    ``materialize``: optional ``DataFrame -> DataFrame`` truncation hook
    for the shared signature frame; defaults to an eager
    ``localCheckpoint``. Reliable-checkpoint pipelines (corpus e2e)
    pass their own ``ckpt`` so executor loss mid-dedup stays
    recoverable from the FS snapshot."""
    rows = num_hashes // bands
    # ONE aggregation produces both the signature and the exact shingle
    # set, MATERIALIZED once (r14 optimization, guide §7.2 duplicated
    # subtrees): the three consumers below (banding, and the Jaccard
    # verify joining it twice as id_a/id_b) previously planned three
    # separate branches — column pruning gave each a different exchange
    # (the verify branches drop the 32 min-hash partials), so
    # ReusedExchange never fired and the corpus was scanned, exploded
    # and collect_set-aggregated three times. Checkpointing the per-doc
    # frame (|docs| rows of 32 longs + the shingle-hash set — the same
    # bytes the three exchanges each carried anyway) makes it one scan,
    # one shuffle at any scale. RDD-keyed truncation, not plan-keyed
    # persist(): every fresh invocation recomputes from the source
    # (no cross-run result caching).
    combined = hashed.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("__h"), F.lit(s))).alias(f"__m{s}")
            for s in range(num_hashes)
        ],
        F.collect_set("__h").alias("__sh"),
    )
    if materialize is None:
        combined = combined.localCheckpoint(eager=True)
    else:
        combined = materialize(combined)
    bucket_arr = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col(f"__m{b * rows + j}") for j in range(rows)])
            for b in range(bands)
        ]
    )
    buckets = combined.select(id_col, F.explode(bucket_arr).alias("__bucket"))
    cand = (
        buckets.groupBy("__bucket")
        .agg(F.sort_array(F.collect_set(id_col)).alias("__ids"))
        .where(F.size("__ids") >= 2)
        .select(
            F.explode(_bucket_pairs(F.col("__ids"), star_above, hubs)).alias("__p")
        )
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    sh = combined.select(id_col, "__sh")
    verified = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "__sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "__sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            / F.size(F.array_union("__sh_a", "__sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return verified


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Drop the higher-id member of every near-duplicate pair (greedy,
    single-pass; transitive clusters keep their min id through chains in
    the common case)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, threshold=threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------------------- simhash
def md5_hash60(col: Column) -> Column:
    """First 15 hex digits of md5 as a 60-bit non-negative long.

    Slower than xxhash64 but exactly reproducible in ANSI SQL (DuckDB
    recomputes it digit-by-digit), which turns the whole SimHash pipeline
    into an oracle-checkable operator — see ``plans/llm.py:dedup_simhash``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """(id, simhash int) — ``bits``-wide SimHash from per-token hash
    bits (64 default: on corpora with heavy shared vocabulary, 32 bits
    saturate — hamming<=3 then matches ~10% of all pairs).

    ``token_hash`` maps a token column to a long (default xxhash64 — the
    fast path; :func:`md5_hash60` is the SQL-reproducible variant used by
    the oracle-checked catalog entry, pair with ``bits=60``).

    Explode distinct tokens, one row per token; ``bits`` conditional sums
    in a single aggregation (bit-majority); reassemble the signature. One
    shuffle on id."""
    hash_fn = token_hash or (lambda c: F.xxhash64(c))
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(TXT.tokens(F.col(text_col)))).alias("__t")
    ).withColumn("__h", hash_fn(F.col("__t")))
    aggs = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__b{j}")
        for j in range(bits)
    ]
    maj = tok.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        # 1 << 63 overflows signed long in Python-literal form; build the
        # sign bit via a shift expression instead.
        bit = F.shiftleft(F.lit(1).cast("long"), j)
        sig = sig + F.when(F.col(f"__b{j}") > 0, bit).otherwise(F.lit(0).cast("long"))
    return maj.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole: split the bits into max_hamming+1 chunks; any pair within
    distance d agrees on >=1 chunk — join only on chunk equality, then
    verify with xor bit_count (exact).

    The signature frame is MATERIALIZED once (r14, guide §7.2 duplicated
    subtrees): the chunk self-join references it as both sides, so
    without truncation the whole scan -> token explode -> per-token hash
    -> ``bits``-sum majority aggregation plans and runs TWICE
    (interleaved A/B at sf0.1: min 8.4 s -> 5.8 s, and 2x -> 1x corpus
    bytes scanned/aggregated)."""
    chunks = max_hamming + 1
    width = bits // chunks
    sig = simhash(
        df, text_col, id_col, bits=bits, token_hash=token_hash
    ).localCheckpoint(eager=True)

    def _chunk(i: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), i * width)
        if width >= 64:
            # max_hamming=0 on 64-bit signatures: the whole signature is
            # the one chunk ((1<<64)-1 would overflow a long literal).
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    exploded = sig.select(
        id_col,
        "simhash",
        F.posexplode(F.array(*[_chunk(i) for i in range(chunks)])).alias(
            "__chunk_idx", "__chunk"
        ),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__chunk_idx") == F.col("b.__chunk_idx"))
            & (F.col("a.__chunk") == F.col("b.__chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------- exact n-gram jaccard
def _shingle_positions(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, __t, __i) rows — one per n-gram start position. Docs shorter
    than ``n`` have no n-grams and are filtered OUT (matching the oracle
    convention ``generate_series(1, len-n+1)``, which is empty for
    them); this also guards Spark's descending-``sequence`` trap for
    ``len - n + 1 < 1``."""
    return df.where(F.length(text_col) >= n).select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - F.lit(n - 1))
        ).alias("__i"),
    )


def _shingle_intersections(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id_a, id_b, __inter, __na, __nb): every doc pair id_a < id_b
    sharing a character n-gram, with the shared distinct n-gram count
    and each doc's distinct n-gram count — the inverted-index self-join
    both exact similarity operators below finish from.

    Shingles are produced row-wise (explode positions, then substring)
    rather than as array expressions — same InferFiltersFromGenerate
    pitfall as the MinHash path (see :func:`_hashed_shingle_rows`).
    Docs shorter than ``n`` chars have NO n-grams and are dropped before
    the explode: a ``greatest(1, ...)`` bound would instead hand them a
    single truncated shingle the SQL-oracle definition
    (``generate_series(1, len-n+1)``) never produces."""
    pos = _shingle_positions(df, text_col, id_col, n)
    # the per-doc distinct shingle frame feeds BOTH self-join sides and
    # the size denominators: materialize it once or the scan -> explode
    # -> substring -> distinct subtree plans and runs 3x (r14; same
    # doctrine as the minhash/simhash signature frames, guide §7.2).
    sh = (
        pos.select(id_col, F.col("__t").substr(F.col("__i"), F.lit(n)).alias("__s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__n", "__na")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__n", "__nb")
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact character-n-gram Jaccard pairs via an inverted-index join
    (:func:`_shingle_intersections`).

    Exact (no hashing) — use on bounded candidate sets; cost is
    sum(bucket^2) over shingle buckets, so hot shingles explode. The
    MinHash path above is the 100 TB variant.
    """
    return (
        _shingle_intersections(df, text_col, id_col, n)
        .withColumn(
            "jaccard", F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# ------------------------------------------------------ embedding cosine
def embedding_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 4,
    star_above: int = STAR_ABOVE,
    hubs: int = 1,
) -> DataFrame:
    """Near-duplicate pairs by cosine — the LSH-bucketed scale path.

    Hyperplane buckets (map-only, one numpy matmul per Arrow batch) prune
    candidates; only same-band-bucket pairs pay the exact cosine, which
    also makes the threshold exact (LSH bounds recall, never precision).
    Only (id, band, bucket) — three ints — flow through the candidate
    expansion and the pair dedup; vectors are re-joined AFTER dedup, so
    at 100 TB the wide embedding column never rides a bucket-join shuffle
    and each surviving pair fetches its two vectors exactly once.
    In-bucket expansion goes through :func:`_bucket_pairs`, so a
    degenerate bucket (millions of identical vectors) emits a linear
    star on its ``hubs`` min ids, never O(|bucket|²) pairs — with the
    same above-cap pair/cluster recall fine print documented there."""
    from pyblazing_spark.operators.similarity import hyperplane_buckets

    base = df.select(F.col(id_col), F.col(vec_col))
    b = hyperplane_buckets(base, vec_col, dim, n_bits, bands).select(
        id_col, "band", "bucket"
    )
    cand = (
        b.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set(id_col)).alias("__ids"))
        .where(F.size("__ids") >= 2)
        .select(
            F.explode(_bucket_pairs(F.col("__ids"), star_above, hubs)).alias("__p")
        )
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    va = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", VEC.cosine_udf(F.col("__va"), F.col("__vb")))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", VEC.nudge_round(F.col("cos"), 4).alias("cos"))
    )


def embedding_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Near-duplicate pairs by cosine similarity (brute pairwise).

    O(n^2) — meant for bounded sets (a shard, an LSH bucket). For corpus
    scale, bucket with
    :func:`pyblazing_spark.operators.similarity.hyperplane_buckets`
    first and run this within buckets.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", VEC.cosine_udf(F.col("__va"), F.col("__vb")))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", VEC.nudge_round(F.col("cos"), 4).alias("cos"))
    )


# -------------------------------------------- duplicated-span coverage
def duplicated_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    sample_mod: int = 4,
    gram_hash=None,
) -> DataFrame:
    """Per-document duplicated-substring coverage — the exact-substring
    dedup signal of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022, public literature): fraction of
    each doc's characters lying inside a >=k-char substring that also
    appears in ANOTHER document. Near-dup (MinHash) finds whole-document
    copies; this finds boilerplate/quotation/template spans inside
    otherwise-unique documents — complementary pipeline stages.

    Pipeline (suffix arrays are the single-node exact method; this is
    the shuffle-friendly sampled variant):

    1. hash EVERY k-char window (stride 1) to a 60-bit int (default the
       md5-derived hash DuckDB reproduces; production: ``xxhash64``);
    2. CONTENT-DEFINED selection: keep windows with
       ``hash % sample_mod == 0``. Selection depends only on the gram's
       CONTENT, so every copy of a substring selects the same windows
       regardless of its offset in the doc — a fixed-stride grid
       silently misses copies whose offsets differ mod the stride
       (measured: two docs sharing a 43-char block, offsets 0 and 14,
       stride 4 -> zero matches). Same alignment-robustness idea as
       content-defined chunking / MOSS winnowing; a shared span of
       length L is detected with prob 1 - ((m-1)/m)^(L-k+1) (~99.7%
       for L=43, k=24, m=4).
    3. selected grams seen in >=2 DISTINCT docs are "duplicated" (one
       count-distinct aggregate — only (hash, partials) shuffle);
    4. hash-semi-join marks each doc's duplicated positions;
    5. exact interval union of the marked windows per doc via one
       window pass: covered chars of [pos, pos+k) minus the running
       max end of preceding intervals — no per-doc collect, no
       quadratic span merge.

    Returns (id, n_chars, dup_chars, dup_ratio); the ratio is a
    conservative (sampled) lower bound of true duplicated coverage.
    Docs shorter than k have zero coverage by definition.

    Scale: the stride-1 explode is scan-stage JVM work and the mod
    filter drops (m-1)/m of rows BEFORE any exchange; nothing wider
    than (id, pos, hash) shuffles; the interval-union window is the
    only doc-keyed exchange.
    """
    from pyspark.sql import Window

    hash_fn = gram_hash or md5_hash60
    base = df.select(
        F.col(id_col), F.col(text_col).alias("__t"),
        F.length(text_col).alias("__len"),
    )
    long_enough = base.where(F.col("__len") >= k)
    # explode positions then substring per row (never an array HOF —
    # see _hashed_shingle_rows for the InferFiltersFromGenerate trap).
    grams = long_enough.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.col("__len") - (k - 1))).alias("__pos"),
        F.col("__t"),
    ).select(
        id_col, "__pos",
        hash_fn(F.col("__t").substr(F.col("__pos"), F.lit(k))).alias("__hv"),
    )
    sel = grams.where(F.col("__hv") % sample_mod == 0)
    dup = (
        sel.groupBy("__hv")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("__hv")
    )
    marks = sel.join(dup, "__hv", "left_semi").select(id_col, "__pos")
    w = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("__pos") + k).over(w)
    add = F.greatest(
        F.lit(0),
        (F.col("__pos") + k)
        - F.greatest(F.col("__pos"), F.coalesce(prev_end, F.lit(0))),
    )
    per_doc = (
        marks.withColumn("__add", add)
        .groupBy(id_col)
        .agg(F.sum("__add").cast("long").alias("dup_chars"))
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.col("__len").cast("long").alias("n_chars"),
            F.coalesce(F.col("dup_chars"), F.lit(0).cast("long")).alias("dup_chars"),
            # empty docs (len 0) define zero coverage — a plain divide
            # raises DIVIDE_BY_ZERO under ANSI mode (hypothesis-found).
            F.when(F.col("__len") > 0,
                   F.round(
                       F.coalesce(F.col("dup_chars"), F.lit(0)) / F.col("__len")
                       + 1e-9, 4
                   ))
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs: C(A→B) = |sh(A) ∩ sh(B)| /
    |sh(A)|. Flags documents mostly contained in another — the
    boilerplate/near-subset signal symmetric Jaccard misses (a short doc
    embedded in a long one has low Jaccard but containment ≈ 1).

    Exact inverted-index formulation, the same
    :func:`_shingle_intersections` as :func:`ngram_jaccard_pairs`
    (bounded-candidate use; the MinHash/LSH path is the 100 TB
    candidate generator). Each unordered intersection yields both
    directions; only those ≥ threshold survive.
    """
    both = _shingle_intersections(df, text_col, id_col, n)
    # both directions come from ONE pass over the intersection rows: a
    # union of two projections would plan (and run) the whole self-join
    # aggregation tower once per branch — unpivot with stack instead
    # (r14; the CLAUDE.md one-scan-plus-stack discipline).
    return (
        both.selectExpr(
            "stack(2, id_a, id_b, __inter / __na, id_b, id_a, __inter / __nb) "
            "AS (contained_id, container_id, containment)"
        )
        .where(F.col("containment") >= threshold)
        .select(
            "contained_id",
            "container_id",
            F.round("containment", 4).alias("containment"),
        )
    )
