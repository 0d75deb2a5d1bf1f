"""Deduplication operators for large-scale document pipelines.

Exact, fingerprint, MinHash-LSH, SimHash, and n-gram-Jaccard variants over a
(id, text) document table. All are built from native DataFrame ops — the only
shuffles are the groupBys/joins inherent to the algorithm.

Determinism note: for oracle-checkable MinHash we avoid engine hash functions
(Spark murmur3 vs DuckDB's differ) and instead hash *token ids* assigned from
a sorted distinct-token dictionary with universal hashing
``(a*id + b) mod p`` — exact integer arithmetic on any engine. The
production-scale variant (`minhash_signatures_fast`) uses ``F.xxhash64`` on
raw shingles instead: one pass, no dictionary join, same statistical
behavior.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import Column, DataFrame, Window

from artigraph_spark.operators._adaptive import cut_frame, pinned_parallelism
from artigraph_spark.operators._checkpoint import checkpoint as _ckpt
from pyspark.sql import functions as F

from artigraph_spark.operators.windows import dedup_pick_first

# Mersenne prime 2^61 - 1: universal-hash modulus, exact in 64-bit-ish integer
# math (products stay < 2^63 because ids and coefficients are kept < 2^31).
_P = (1 << 61) - 1


def exact_dedup(df: DataFrame, subset: list[str], order: list[Column]) -> DataFrame:
    """Keep one deterministic survivor per duplicate group (hash-groupBy dedup).

    One shuffle on ``subset``; with WindowGroupLimit each map task pre-prunes
    to a single candidate per local group before the exchange.
    """
    return dedup_pick_first(df, subset, order)


def fingerprint(df: DataFrame, col: str, out: str = "fp") -> DataFrame:
    """Content fingerprint column: sha256 hex of the value (cross-engine stable)."""
    return df.withColumn(out, F.sha2(F.col(col).cast("string"), 256))


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def poly_char_hash(
    s: Column, mult: int = 131, mod: int = (1 << 31) - 1
) -> Column:
    """Engine-exact polynomial char fold ``acc = (acc·mult + codepoint(c))
    mod mod`` — THE shared primitive under every oracle-replayable string
    hash in the repo (minhash id fallbacks, simhash poly62, CDC token
    hashes). One definition so the Spark expression and its DuckDB twins
    cannot drift constant-by-constant. Assumes BMP text (Spark's ascii()
    is UTF-16-unit-based); exact on ASCII corpora."""
    return F.aggregate(
        F.filter(F.split(s, ""), lambda ch: ch != ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * mult + F.ascii(ch)) % F.lit(mod),
    )


def poly_char_hash2(
    s: Column,
    mult1: int = 131,
    mod1: int = (1 << 31) - 1,
    mult2: int = 137,
    mod2: int = 2147483629,
) -> Column:
    """TWO independent :func:`poly_char_hash` folds of the same string in
    ONE char traversal (struct accumulator) — same per-hash recurrence,
    half the split/walk work where both hashes are needed (simhash
    poly62's 62-bit packing). Returns struct(h1, h2)."""
    return F.aggregate(
        F.filter(F.split(s, ""), lambda ch: ch != ""),
        F.struct(
            F.lit(0).cast("long").alias("h1"), F.lit(0).cast("long").alias("h2")
        ),
        lambda acc, ch: F.struct(
            ((acc["h1"] * mult1 + F.ascii(ch)) % F.lit(mod1)).alias("h1"),
            ((acc["h2"] * mult2 + F.ascii(ch)) % F.lit(mod2)).alias("h2"),
        ),
    )


def _fallback_doc_id(id_col: str) -> Column:
    """Deterministic sub-2³¹ integer for a token-less document's id-derived
    signature: numeric ids use the value (oracle: ``id % 2147483647``),
    non-numeric ids the polynomial char hash (a plain cast would raise
    under ANSI mode).

    ORACLE CONTRACT: this uses ``pmod`` (always non-negative) and the
    DuckDB oracles replay it pmod-style as ``((doc_id % m) + m) % m`` —
    identical for ANY numeric id sign (r14: the plain ``%`` replay and
    its non-negative-ids caveat are gone)."""
    return F.pmod(
        F.coalesce(
            F.col(id_col).try_cast("long"),
            poly_char_hash(F.col(id_col).cast("string")),
        ),
        F.lit((1 << 31) - 1),
    )


def _hash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a odd, < 2^31)."""
    coeffs = []
    x = seed
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x >> 16) % ((1 << 31) - 2) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (x >> 16) % ((1 << 31) - 1)
        coeffs.append((a | 1, b))
    return coeffs


def token_dictionary(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(token, token_id) dictionary with ids assigned by sorted token order.

    The sort makes ids — and therefore MinHash signatures — engine-independent
    and oracle-checkable. Ids are assigned in TWO stages so no single-partition
    global window exists: tokens bucket by first-char codepoint (UTF-8 byte
    order == Spark string order, so buckets are ordered ranges — deterministic,
    unlike sampling-based range partitioning), rank within bucket, then add
    cumulative bucket offsets (a window over ≤ |alphabet| rows). For the
    production path prefer `minhash_signatures_fast` (no dictionary at all).
    """
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("token")).distinct()
    bucketed = toks.withColumn("__bkt__", F.ascii(F.substring(F.col("token"), 1, 1)))
    local = bucketed.withColumn(
        "__rank__",
        F.row_number()
        .over(Window.partitionBy("__bkt__").orderBy(F.col("token").asc()))
        .cast("long"),
    )
    counts = bucketed.groupBy("__bkt__").agg(F.count("*").alias("__cnt__"))
    # Cumulative offsets via a triangular self-join over ≤ |alphabet| rows —
    # a window orderBy here would reintroduce a single-partition exchange.
    lower = counts.select(
        F.col("__bkt__").alias("__lb__"), F.col("__cnt__").alias("__lc__")
    )
    offsets = (
        counts.join(F.broadcast(lower), F.col("__lb__") < F.col("__bkt__"), "left")
        .groupBy("__bkt__")
        .agg(F.coalesce(F.sum("__lc__"), F.lit(0)).cast("long").alias("__offset__"))
    )
    return local.join(F.broadcast(offsets), "__bkt__").select(
        "token", (F.col("__offset__") + F.col("__rank__")).alias("token_id")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature columns ``mh0..mh{n-1}`` (token-set based,
    deterministic across engines via the sorted token dictionary)."""
    dictionary = token_dictionary(df, id_col, text_col)
    # No distinct on (doc, token): MIN is idempotent over duplicate
    # occurrences, so the token-SET semantics hold on the raw multiset —
    # the distinct was a full data-sized shuffle bought for nothing (the
    # broadcast dictionary join and the map-side-combined groupBy below
    # are the only remaining per-token costs).
    doc_tokens = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).join(F.broadcast(dictionary), "token")
    coeffs = _hash_coeffs(num_hashes, seed)
    aggs = [
        F.min((F.lit(a) * F.col("token_id") + F.lit(b)) % F.lit(_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sigs = doc_tokens.groupBy(id_col).agg(*aggs)
    # Token-less documents must still get a (deterministic, id-derived)
    # signature — dropping them would silently lose rows downstream and
    # diverge from minhash_signatures_fast's fallback behavior. Numeric ids
    # use the id value (oracle-expressible as `id % 2^31-1`); non-numeric
    # string ids fall back to an engine-independent polynomial char hash —
    # a plain cast would raise under ANSI mode.
    fallback_id = _fallback_doc_id(id_col)
    out = df.select(F.col(id_col)).join(sigs, id_col, "left")
    return out.select(
        F.col(id_col),
        *[
            F.coalesce(
                F.col(f"mh{i}"), (F.lit(a) * fallback_id + F.lit(b)) % F.lit(_P)
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )


def minhash_signatures_shingled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_size: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Shingle-based MinHash over EXACT integer arithmetic — the
    discriminative signature (word n-grams, like `minhash_signatures_fast`)
    that is also fully oracle-checkable (unlike the fast variant's
    xxhash64).

    Token-SET MinHash collides pathologically on natural text — shared
    stopwords give unrelated documents high token-set Jaccard, and a
    16-hash/4-band LSH over it emits a near-quadratic candidate set
    (measured 80 345 pairs over 500 fixture docs, vs 101 for 3-shingles).
    Shingles fix the statistics; the exact-integer construction keeps the
    engine-replayability: token ids from the sorted `token_dictionary`,
    shingle hash = positional polynomial ``Σ c_j·tid_{i+j} mod P`` folded
    to 31 bits, then the usual ``min((a·h+b) mod P)`` transforms.

    Plan shape: explode(+pos) → broadcast dictionary join → ONE shuffle on
    the doc id for the lead() window (per-document partitions — documents
    are KB-sized, so no skew hazard), and the final groupBy rides the same
    partitioning with map-side combine. Documents shorter than
    ``shingle_size`` tokens hash their available prefix (one partial
    shingle); token-less documents get the id-derived fallback signature,
    exactly like `minhash_signatures`.
    """
    from pyspark.sql import Window

    if shingle_size < 2:
        raise ValueError(f"shingle_size must be >= 2, got {shingle_size}")
    dictionary = token_dictionary(df, id_col, text_col)
    pos_toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "token")
    ).join(F.broadcast(dictionary), "token")
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("token_id")] + [
        F.lead("token_id", j).over(w) for j in range(1, shingle_size)
    ]
    combiners = _hash_coeffs(shingle_size, seed + 7919)
    full = None
    partial = None
    for j, (t, (c, _)) in enumerate(zip(leads, combiners)):
        term = (F.lit(c) * t) % F.lit(_P)
        full = term if full is None else (full + term) % F.lit(_P)
        partial = (
            F.coalesce(term, F.lit(0))
            if partial is None
            else (partial + F.coalesce(term, F.lit(0))) % F.lit(_P)
        )
    # full shingles wherever the whole window fits; the pos-0 partial
    # covers 1..shingle_size-1 token documents (their ONLY shingle)
    sh = F.when(leads[-1].isNotNull(), full).when(
        (F.col("pos") == 0) & leads[-1].isNull(), partial
    )
    folded = sh % F.lit((1 << 31) - 1)  # keep a·h + b under 2^63
    coeffs = _hash_coeffs(num_hashes, seed)
    sigs = (
        pos_toks.withColumn("__sh", folded)
        .filter(F.col("__sh").isNotNull())
        .groupBy(id_col)
        .agg(
            *[
                F.min((F.lit(a) * F.col("__sh") + F.lit(b)) % F.lit(_P)).alias(
                    f"mh{i}"
                )
                for i, (a, b) in enumerate(coeffs)
            ]
        )
    )
    # id-derived fallback for token-less documents (the minhash_signatures
    # convention — dropping rows would silently lose documents downstream)
    fallback_id = _fallback_doc_id(id_col)
    out = df.select(F.col(id_col)).join(sigs, id_col, "left")
    return out.select(
        F.col(id_col),
        *[
            F.coalesce(
                F.col(f"mh{i}"), (F.lit(a) * fallback_id + F.lit(b)) % F.lit(_P)
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )


def _rot64(c, r: int):
    """Bitwise 64-bit rotation (no ANSI overflow — pure bit ops)."""
    return F.shiftleft(c, r).bitwiseOR(F.shiftrightunsigned(c, 64 - r))


def minhash_signatures_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_size: int = 3,
    seed: int = 42,
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Production-scale MinHash: xxhash64 token hashes combined into shingle
    hashes with position-dependent rotations, then ``array_min`` over k
    universal-hash transforms — ALL per-row array expressions. Zero shuffles,
    zero explodes: an embarrassingly-parallel single scan, which is exactly
    what you want feeding 100 TB of documents through LSH dedup. Not
    oracle-checkable (engine hash), statistically equivalent to the
    dictionary-based `minhash_signatures`.

    ``keep_cols`` passes extra input columns through unchanged (the
    streaming near-dup gate needs the event-time column to survive for
    its watermark; the default empty tuple keeps every existing caller's
    plan identical).
    """
    reserved = {"__toks", "__tokh", "__ntxt", "__sh", "__fh", id_col} | {
        f"mh{i}" for i in range(num_hashes)
    }
    bad = sorted(set(keep_cols) & reserved)
    if bad:
        raise ValueError(
            f"minhash_signatures_fast: keep_cols {bad} collide with the "
            f"operator's staging/output column names (reserved: internal "
            f"__toks/__tokh/__ntxt/__sh/__fh, the id column, and mh0..mh{num_hashes - 1})"
        )
    # Stage the intermediate arrays as real columns: every stage references
    # the previous one many times, and inlining (what a single select would
    # do) makes the expression tree — and the work — multiply out.
    kc = [F.col(c) for c in keep_cols]
    staged = df.select(
        F.col(id_col), *kc, tokens(F.col(text_col)).alias("__toks")
    )
    staged = staged.select(
        F.col(id_col),
        *kc,
        F.transform(F.col("__toks"), lambda t: F.xxhash64(t)).alias("__tokh"),
        # short-doc fallback input: the NORMALIZED token join, so
        # token-identical documents below the shingle minimum ("Foo bar"
        # vs "foo  bar") share a signature like they do in the slow
        # token-set path — hashing the raw text made them unrelated
        F.concat_ws(" ", F.col("__toks")).alias("__ntxt"),
    )

    def shingle_hash(i):
        h = F.element_at(F.col("__tokh"), i)
        for j in range(1, shingle_size):
            h = h.bitwiseXOR(
                _rot64(F.element_at(F.col("__tokh"), i + j), (j * 21) % 63 + 1)
            )
        return h

    n_shingles = F.size(F.col("__tokh")) - shingle_size + 1
    staged = staged.select(
        F.col(id_col),
        *kc,
        F.when(n_shingles >= 1, F.transform(F.sequence(F.lit(1), n_shingles), shingle_hash))
        .otherwise(F.array(F.xxhash64(F.col("__ntxt"))))
        .alias("__sh"),
    )
    # Fold to 31 bits so a·h + b stays under 2^63 (a < 2^31).
    staged = staged.select(
        F.col(id_col),
        *kc,
        F.transform(F.col("__sh"), lambda h: F.pmod(h, F.lit((1 << 31) - 1))).alias("__fh"),
    )
    sig_cols = [
        F.array_min(
            F.transform(F.col("__fh"), lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_P))
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(_hash_coeffs(num_hashes, seed))
    ]
    return staged.select(F.col(id_col), *kc, *sig_cols)


def _null_safe_sig(name: str) -> Column:
    """NULL-proof band-key component: concat_ws silently SKIPS null columns,
    so signatures differing only in WHICH mh is NULL would collide —
    sentinel-coalesce every key with a string no numeric hash can produce."""
    return F.coalesce(F.col(name).cast("string"), F.lit("∅"))


def _signature_key(num_hashes: int) -> Column:
    return F.concat_ws("_", *[_null_safe_sig(f"mh{i}") for i in range(num_hashes)])


def band_key_array(num_hashes: int, bands: int) -> Column:
    """The ``bands`` LSH band-signature keys of an mh0..mh{n-1} row, as an
    array (posexplode it for (band_id, band_sig) rows). ONE definition
    shared by the batch `lsh_candidate_pairs` path and the streaming
    `stateful_lsh_band_flags` gate, so their bucketing can never drift."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    _null_safe_sig(f"mh{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )


def _banded_signatures(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """One row per (distinct signature, band): the duplicate-collapse
    prepass both LSH variants share. Bands one representative per distinct
    signature and emits (__sig, band_id, band_sig)."""
    rows_per_band = num_hashes // bands
    mh_names = [f"mh{i}" for i in range(num_hashes)]
    uniq = sigs.select(*mh_names).distinct().withColumn(
        "__sig", _signature_key(num_hashes)
    )
    return uniq.select(
        "__sig",
        F.posexplode(band_key_array(num_hashes, bands)).alias("band_id", "band_sig"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """Band the signatures and self-join on (band_id, band_signature) buckets.

    Returns distinct (a, b) candidate pairs with a < b. The join is an
    equi-join on the band key — shuffle-partitioned, no quadratic blowup
    outside genuinely identical buckets.

    Duplicate-collapse prepass: a real crawl corpus is dominated by verbatim
    duplicates, whose identical signatures pile into the SAME bucket of every
    band — banding each copy individually makes the bucket join do
    ``bands ×`` the (already quadratic) group work and then pushes that
    inflated intermediate through a pair-level ``distinct``. Instead we band
    ONE representative per distinct signature and reconstruct the pair set
    afterwards from the group membership. The emitted set is exactly the
    original semantics:

    - within-group pairs: identical signatures share every band → always
      candidates (a linear self-join on the signature key, no band fan-out,
      no distinct);
    - cross-group pairs: (x ∈ A, y ∈ B) share a band iff their signatures
      do → expand signature-level pairs (deduped at signature level, which
      is tiny) through the two membership joins.
    """
    if bands <= 0 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes evenly (got num_hashes={num_hashes}, "
            f"bands={bands}); otherwise trailing hashes are ignored or every "
            "document lands in one bucket"
        )
    from artigraph_spark.operators._adaptive import reuse_frame

    # r14: the signature frame fans out to 4 plan branches here (banded,
    # ma, mb, within) — without a cut each branch re-executes the whole
    # signature subtree, which for an un-checkpointed caller means 4 full
    # corpus rescans at scale. The cut materializes the narrow
    # (id, mh0..mhN) frame once above the input-size threshold; no-op at
    # test scale, and the bare-leaf guard makes it free for callers that
    # already checkpoint their signatures (operators._adaptive).
    signatures = reuse_frame(signatures)
    members = signatures.select(
        _signature_key(num_hashes).alias("__sig"), F.col(id_col).alias("__id")
    )
    # One row per distinct signature (shuffle on the signature — the same
    # exchange width the band join would have needed, minus the duplicates).
    banded = _banded_signatures(signatures, num_hashes, bands)
    left = banded.select(F.col("__sig").alias("__sa"), "band_id", "band_sig")
    right = banded.select(F.col("__sig").alias("__sb"), "band_id", "band_sig")
    sig_pairs = (
        left.join(right, ["band_id", "band_sig"])
        .filter(F.col("__sa") < F.col("__sb"))
        .select("__sa", "__sb")
        .distinct()  # signature-level — orders of magnitude below pair-level
    )
    ma = members.select(F.col("__sig").alias("__sa"), F.col("__id").alias("__ia"))
    mb = members.select(F.col("__sig").alias("__sb"), F.col("__id").alias("__ib"))
    cross = (
        sig_pairs.join(ma, "__sa")
        .join(mb, "__sb")
        .select(
            F.least(F.col("__ia"), F.col("__ib")).alias("a"),
            F.greatest(F.col("__ia"), F.col("__ib")).alias("b"),
        )
    )
    within = (
        ma.join(members.select(F.col("__sig").alias("__sa"), F.col("__id").alias("__ib")), "__sa")
        .filter(F.col("__ia") < F.col("__ib"))
        .select(F.col("__ia").alias("a"), F.col("__ib").alias("b"))
    )
    # cross ∩ within = ∅ (different vs identical signature) and both sides are
    # already duplicate-free by construction — no pair-level distinct needed.
    return cross.unionByName(within)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    candidate_filter: Column | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Token-set Jaccard similarity over document pairs (a < b).

    The scale path is ``candidates`` — an (a, b) pair DataFrame (e.g. from
    `lsh_candidate_pairs`) joined with two equi-joins, never all-pairs. The
    unrestricted self-join is a broadcast-nested-loop cross product and must
    be opted into with ``allow_quadratic=True`` on a provably bounded input;
    calling without either raises rather than silently planning O(n²) work.
    """
    toks = df.select(
        F.col(id_col), F.array_distinct(tokens(F.col(text_col))).alias("toks")
    )
    if candidates is not None:
        ta = toks.select(F.col(id_col).alias("a"), F.col("toks").alias("toks_a"))
        tb = toks.select(F.col(id_col).alias("b"), F.col("toks").alias("toks_b"))
        pairs = candidates.select("a", "b").join(ta, "a").join(tb, "b")
    else:
        if candidate_filter is None and not allow_quadratic:
            raise ValueError(
                "ngram_jaccard_pairs without `candidates` is an all-pairs "
                "cross product; pass candidates= (e.g. from "
                "lsh_candidate_pairs) or opt in with allow_quadratic=True "
                "on a bounded input"
            )
        a = toks.select(F.col(id_col).alias("a"), F.col("toks").alias("toks_a"))
        b = toks.select(F.col(id_col).alias("b"), F.col("toks").alias("toks_b"))
        pairs = a.join(b, F.col("a") < F.col("b"))
        if candidate_filter is not None:
            pairs = pairs.filter(candidate_filter)
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.size(F.array_union("toks_a", "toks_b")).cast("double")
    # Two empty token sets are identical documents: J(∅,∅)=1 (and guards the
    # ANSI divide-by-zero that whitespace-only duplicates would trigger).
    jaccard = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return (
        pairs.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


@pinned_parallelism
def connected_components(
    edges: DataFrame,
    *,
    src: str = "a",
    dst: str = "b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list → (node, component)
    with component = min node id in the component.

    Min-label propagation with pointer jumping: each round a node takes the
    minimum label over its neighborhood, then labels chase their own labels
    (label := label-of-label), which halves chain lengths — so convergence
    is O(log diameter), not O(diameter) (a 40-node path converges in ~6
    rounds instead of 40). Each round is two shuffle-joins; for INTEGRAL
    node ids convergence is detected by comparing the EXACT decimal
    label sum between rounds — valid because labels are monotone
    non-increasing under F.least, so an unchanged sum means no node moved;
    one scan-aggregate over the round's just-checkpointed blocks, where a
    join-based probe would shuffle two node-count-sized frames every round
    (non-summable ids — strings; floats would round — keep the join probe).
    Node ids must be non-NULL (a NULL endpoint has no min-label semantics;
    every caller feeds real keys). This is the standard Spark shape for
    iterative graph algorithms without a graph library.

    Per-round lineage cuts are ``operators._checkpoint``'s: executor-local
    blocks (self-releasing, ~2 rounds pinned — see below), or reliable
    checkpoints when the context has a checkpoint directory — the
    sturdier mode for 1000-executor runs, where an executor death would
    otherwise kill the job because a localCheckpointed round cannot be
    replayed. ``operators._checkpoint``'s module note says when reliable
    round files are deleted; size the dir for O(log diameter)
    node-count-sized rounds.
    """
    # r14: the symmetrized edge list feeds EVERY round's neighbor-min
    # join, but each round's job replayed its subtree (scan + union) from
    # scratch — O(log diameter) re-executions of the upstream pair
    # pipeline. Persist it for the loop and release in the finally (the
    # pagerank e-frame convention). The whole loop also runs AQE-pinned
    # (@pinned_parallelism, operators._adaptive): per-round exchange shapes
    # are fixed and node-keyed, the per-round lazy checkpoint freezes its
    # physical plan at declaration (so the scope must cover construction),
    # and AQE's per-exchange barrier was costing several driver
    # round-trips per round for plans that never change between rounds.
    from pyspark import StorageLevel

    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        return _cc_loop(sym, edges, src, dst, max_iterations)
    finally:
        sym.unpersist()


def _cc_loop(sym, edges, src, dst, max_iterations):
    nodes = sym.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node"))

    # ``DataFrame.unpersist`` cannot release localCheckpoint blocks — they
    # are pinned at the RDD level, not through the CacheManager — so read
    # the checkpointed RDD's id straight off the plan (a localCheckpointed
    # Dataset analyzes to a LogicalRDD node) and release exactly that id
    # via the JVM persistent-RDD map. Precise per-DataFrame targeting: a
    # concurrent operator persisting on the same SparkSession is never
    # touched (a global before/after diff of the map would race it).
    # Keeps pinned executor storage bounded at ~2 rounds of labels instead
    # of one copy per round (O(log d) copies at 100 TB).
    jsc = sym.sparkSession.sparkContext._jsc

    def _ckpt_rdd_id(ckpt_df: DataFrame) -> int | None:
        try:
            return int(ckpt_df._jdf.queryExecution().analyzed().rdd().id())
        except Exception:  # plan shape surprise — skip release, never misfire
            return None

    def _release(rdd_id: int | None) -> None:
        if rdd_id is None:
            return
        rdd = jsc.getPersistentRDDs().get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)

    prev_id: int | None = None
    # Seed for the monotone-sum convergence probe: round 0's labels are
    # the node ids themselves. object() is a never-equal sentinel so an
    # all-NULL/empty frame (sum NULL) still runs round 1's real compare.
    prev_sum: object = object()
    from pyspark.sql.types import IntegralType

    # INTEGRAL ids only: n ≤ ~1e19 int64 ids sum exactly inside
    # decimal(38,0) (max ~1e19 · 9.2e18 < 1e38). Decimal ids are routed
    # to the join probe — a decimal(38,·) sum can overflow to NULL
    # (read here as "converged") and fractional scales round under the
    # (38,0) cast, both of which could mask a real label change. Both
    # endpoint types must agree: labels take values from either column.
    summable = isinstance(
        edges.schema[src].dataType, IntegralType
    ) and isinstance(edges.schema[dst].dataType, IntegralType)
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy(sym.u.alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
        )
        # Pointer jump: label := label(label) — halves label-chain depth.
        lookup = propagated.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        jumped = propagated.join(
            lookup, propagated.label == lookup.l_node, "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce("l_label", F.col("label"))).alias("label"),
        )
        # Checkpoint FIRST so the convergence probe reuses the materialized
        # round instead of re-executing the two joins a second time. A
        # local cut is LAZY (eager=False): the probe immediately below is
        # the first action and materializes the blocks as it runs — an
        # eager cut would spend one extra job per round doing the same
        # work twice. A reliable cut is eager (operators._checkpoint).
        jumped = _ckpt(jumped, eager=False)
        # Convergence probe (r13): labels are MONOTONE non-increasing
        # (both steps take F.least), so for integral node types
        # "no node changed" ⇔ "the exact label sum is unchanged" — one
        # scan-aggregate over the blocks just materialized, replacing a
        # node-keyed join + count that shuffled two node-count-sized
        # frames EVERY round. Decimal sum: exact and overflow-free at
        # any node count × id magnitude (int64 sum would wrap on ~1e9
        # nodes of ~1e18 ids). Non-integral ids (strings; floats and
        # decimals could round or overflow-to-NULL) keep the join
        # probe — correctness over stage count.
        if summable:
            new_sum = jumped.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            # NULL sum = empty label frame (no edges): nothing can change.
            changed = 0 if (new_sum is None or new_sum == prev_sum) else 1
            prev_sum = new_sum
        else:
            changed = (
                jumped.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
        # The new round is materialized and its lineage truncated, so the
        # previous round's checkpoint blocks are dead — release them NOW
        # (the convergence probe above was the last reader of `labels`).
        # A reliable round is never in the persistent-RDD map (its blocks
        # are files under the checkpoint dir), so its release is a no-op.
        _release(prev_id)
        prev_id = _ckpt_rdd_id(jumped)
        labels = jumped
        if changed == 0:
            break
    else:
        # Exhausting the rounds with changes still flowing means some
        # labels are stale non-root ids — downstream dedup_clusters would
        # then find NO keeper row for those clusters and silently drop
        # every member. Fail loudly instead; pointer jumping converges in
        # O(log diameter), so the default 20 rounds cover diameters ~2^20.
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{max_iterations} pointer-jumping rounds — component "
                f"diameter exceeds ~2^{max_iterations}; raise max_iterations"
            )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.7,
    signatures: str = "fast",
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidates → Jaccard
    verification → connected components → (doc_id, cluster_id, is_keeper).

    The full training-data dedup pipeline: keep ``is_keeper`` rows. Every
    stage is the scale path (no all-pairs anywhere).

    Exact-duplicate collapse: byte-identical texts (the dominant duplicate
    mass in a real crawl corpus) are collapsed to ONE survivor — the minimum
    id per sha256(text) group — before signatures/LSH/Jaccard/components run,
    then every collapsed member is reattached to its survivor's cluster.
    Cluster semantics are unchanged: Jaccard is a pure function of the text,
    so interchangeable copies add no connectivity the survivor doesn't
    already have, and the survivor is its group's min id, so the component's
    min-id label is identical with or without the copies. What changes is the
    cost — every downstream stage is linear in *distinct* texts, not total
    rows (a 10×-replicated corpus does ~1× the near-dup work).

    ``signatures`` picks the MinHash flavor: ``"fast"`` (xxhash64 shingles
    — the production default, not oracle-expressible) or ``"shingled"``
    (`minhash_signatures_shingled` — exact-integer shingles, fully
    replayable cross-engine, so the WHOLE pipeline including the
    connected components is DuckDB-checkable; same 3-gram statistics).
    """
    if signatures not in ("fast", "shingled"):
        raise ValueError(f"signatures must be 'fast' or 'shingled', got {signatures!r}")
    # NULL text gets a sentinel so null-text docs group together (sha2 of
    # NULL is NULL, and NULL join keys never match).
    fp = F.coalesce(F.sha2(F.col(text_col).cast("string"), 256), F.lit("__null__"))
    docs = df.select(F.col(id_col), F.col(text_col), fp.alias("__fp"))
    # ONE min-id-per-fingerprint pass: reps derive from the exact-dedup
    # survivors (the same arg-min) instead of a second groupBy shuffle
    surv_full = exact_dedup(docs, ["__fp"], [F.col(id_col).asc()])
    reps = surv_full.select("__fp", F.col(id_col).alias("__rep"))
    membership = docs.select(F.col(id_col), "__fp").join(reps, "__fp")
    survivors = surv_full.select(F.col(id_col), F.col(text_col))

    if signatures == "fast":
        sigs = minhash_signatures_fast(survivors, id_col, text_col, num_hashes=num_hashes)
    else:
        sigs = minhash_signatures_shingled(
            survivors, id_col, text_col, num_hashes=num_hashes
        )
    # Lineage cut before the 4-branch band fan-out (the chained-pass
    # rule): BOTH signature pipelines sit above the exact-dedup survivor
    # aggregation, so each lsh_candidate_pairs branch would re-execute
    # the dedup shuffle + signature transforms (measured ~2x on the fast
    # flavor at sf0.1). One row per survivor — survivor-count-priced.
    sigs = cut_frame(sigs)
    candidates = lsh_candidate_pairs(sigs, id_col, num_hashes=num_hashes, bands=bands)
    # Jaccard verification reuses the candidates-based path (two equi-joins,
    # J(∅,∅)=1 guard, threshold filter) — single implementation, no drift.
    verified = ngram_jaccard_pairs(
        survivors, id_col, text_col, threshold=jaccard_threshold, candidates=candidates
    ).select("a", "b")
    comps = connected_components(verified)
    out = membership.join(comps, membership["__rep"] == comps.node, "left")
    return out.select(
        F.col(id_col),
        F.coalesce("component", F.col("__rep")).alias("cluster_id"),
    ).withColumn("is_keeper", F.col(id_col) == F.col("cluster_id"))


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per document — bit-majority over token hashes, computed as a
    sum of ±1 per bit via bitwise ops, all JVM-side. Near-dup candidates =
    equal simhash or small Hamming distance (compare via xor + bit_count).
    Tokens vote with MULTIPLICITY (the standard construction: repeated
    tokens weigh their bits more).

    ``hash_fn``: ``"xxhash64"`` (default — 64-bit production hash, not
    oracle-expressible) or ``"poly62"`` — two independent polynomial char
    hashes packed as ``h1·2³¹ + h2`` (62 usable bits; requires
    ``bits <= 62``). The polynomial form replays exactly in ANSI SQL, so
    the whole fingerprint is DuckDB-checkable; its per-char fold assumes
    BMP text (Spark's ascii() is UTF-16-unit-based) — exact on ASCII
    corpora, which is what the fixtures hold. Statistically xxhash64
    disperses better; poly62 is the verification flavor.
    """
    if hash_fn not in ("xxhash64", "poly62"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'poly62', got {hash_fn!r}")
    if hash_fn == "poly62" and bits > 62:
        raise ValueError(f"poly62 provides 62 hash bits; got bits={bits}")
    if hash_fn == "poly62":
        hh = poly_char_hash2(F.col("token"))
        token_hash = hh["h1"] * F.lit(1 << 31).cast("long") + hh["h2"]
    else:
        token_hash = F.xxhash64("token")
    doc_tokens = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).withColumn("h", token_hash)
    bit_sums = doc_tokens.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"bit{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        # bit 63 is the sign bit: its set-value is long MIN, not 2^63.
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        term = F.when(F.col(f"bit{i}") > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    # Token-less documents (NULL/empty/whitespace text) produce no exploded
    # rows and would vanish from the output — the silent-row-loss hazard
    # minhash_signatures documents. Preserve them with the all-bits-zero
    # signature (no majority set anywhere).
    return (
        df.select(F.col(id_col))
        .join(bit_sums.select(F.col(id_col), sig.alias("simhash")), id_col, "left")
        .select(F.col(id_col), F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


def dedup_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 8,
    sep: str = " ",
) -> DataFrame:
    """Corpus-level exact segment dedup: drop every repeated k-token span,
    keeping only its first occurrence across the whole corpus.

    Documents are cut into consecutive ``seg_tokens``-token segments (the
    tail keeps its partial segment); a segment survives iff its (id, seg_no)
    is the lexicographically-smallest occurrence of that exact segment text
    anywhere in the corpus — so both cross-document boilerplate and
    within-document repetition collapse to a single copy. Surviving segments
    are stitched back in order. This is the segment-granularity form of
    exact-substring training-data dedup (suffix-array dedup quantized to
    fixed spans so it runs as pure relational ops).

    Three key-partitioned shuffles, no all-pairs anywhere: groupBy(segment)
    for the arg-min, an equi-join back on the segment, and groupBy(id) for
    reassembly — each scales linearly and AQE-balances skewed boilerplate
    segments. Splitting uses the literal ``sep`` (no regex) so
    reassembly is byte-faithful for single-separator text.

    Returns (id, text, n_segments, n_removed) with ``text`` rebuilt.
    """
    if seg_tokens <= 0:
        raise ValueError(f"seg_tokens must be positive, got {seg_tokens}")
    import re as _re

    # Literal separator: F.split takes a Java regex, so escape it (else
    # sep='.' or '|' tokenizes per character / on empty matches while
    # array_join reassembles with the raw string — garbled rebuilds).
    # NULL text is treated as the empty document so the row survives the
    # rebuild instead of silently vanishing at the posexplode.
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep), -1)
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    seg_list = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(toks, i * seg_tokens + 1, seg_tokens), sep),
    )
    segs = df.select(
        F.col(id_col), F.posexplode(seg_list).alias("__seg_no", "__seg")
    )
    firsts = segs.groupBy("__seg").agg(
        F.min(F.struct(F.col(id_col), F.col("__seg_no"))).alias("__first")
    )
    marked = segs.join(firsts, "__seg").withColumn(
        "__keep",
        (F.col(id_col) == F.col(f"__first.{id_col}"))
        & (F.col("__seg_no") == F.col("__first.__seg_no")),
    )
    rebuilt = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("__seg_no", "__seg", "__keep"))
                    ),
                    lambda s: s["__keep"],
                ),
                lambda s: s["__seg"],
            ),
            sep,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias("n_removed"),
    )
    return rebuilt


def cdc_chunk_dedup_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 4,
    mask_bits: int = 4,
    base: int = 1_000_003,
    max_df: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Corpus-level near-dup report over CONTENT-DEFINED chunk
    fingerprints — the consumer shape
    :func:`..text.content_defined_chunks` exists to feed: because CDC
    boundaries re-lock within ~``window`` tokens of an edit, two crawl
    snapshots that differ by one inserted paragraph still share every
    chunk outside the edited neighborhood, so this report surfaces them
    where ``dedup_segments``' fixed spans (all shifted) match nothing.

    Pipeline: distinct (doc, chunk_fp) → per-fp document frequency →
    drop singleton fps (nothing to pair) AND fps in more than ``max_df``
    docs (boilerplate "stop chunks" — the set-similarity stop-member cap;
    a fp in m docs creates m² pair candidates, so the cap bounds the
    self-join at Σ df² ≤ max_df · Σ df, linear in corpus size) →
    fp-keyed self-join (a < b) → per-pair rollup, keeping pairs sharing
    at least ``min_shared`` chunks.

    All integer columns, exact across engines (the chunk fingerprints are
    the oracle-replayable poly-fold). Shuffles: two groupBys and one
    equi-join, all on chunk_fp, plus the final pair groupBy and two
    doc-keyed total joins — nothing all-pairs, nothing data-sized on one
    partition.

    Returns ``(doc_a, doc_b, shared_chunks, shared_tokens, chunks_a,
    chunks_b)`` — shared_tokens sums the fp-level token length (the max
    across occurrences, identical for non-colliding fps), chunks_a/b are
    the docs' distinct-chunk totals for containment scoring downstream.

    ``shared_tokens`` is an UPPER-BOUND ESTIMATE, not an exact shared
    count: it sums the corpus-wide max chunk_tokens per fingerprint, so
    under a 62-bit fp collision or asymmetric chunkings a containment
    score ``shared_tokens / doc_tokens`` can exceed 1 — consumers should
    clamp (``LEAST(1.0, ...)``) before thresholding on it.
    """
    if max_df < 2:
        raise ValueError(f"max_df must be >= 2 (pairs need df >= 2), got {max_df}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    from artigraph_spark.operators.text import content_defined_chunks

    ch = content_defined_chunks(
        df, id_col, text_col, window=window, mask_bits=mask_bits, base=base
    )
    # Materialize the (doc, fp) frame ONCE: four consumers hang off it
    # (fpstats, both self-join sides, totals), and without the cut each
    # would re-run the O(n·window) chunking scan unless exchange reuse
    # happens to fire — at corpus scale the chunking pass dominates, so
    # guarantee it runs once (the dedup_clusters checkpoint-routing rule;
    # measured faster warm even at sf0.1).
    per = _ckpt(
        ch.groupBy(F.col(id_col), F.col("chunk_fp")).agg(
            F.max("chunk_tokens").alias("__tok")
        )
    )
    fpstats = per.groupBy("chunk_fp").agg(
        F.count(F.lit(1)).alias("__df"), F.max("__tok").alias("__ftok")
    )
    cand = per.join(
        fpstats.filter((F.col("__df") >= 2) & (F.col("__df") <= max_df)),
        "chunk_fp",
    ).select(F.col(id_col), F.col("chunk_fp"), F.col("__ftok"))
    pairs = (
        cand.select(F.col(id_col).alias("doc_a"), "chunk_fp", "__ftok")
        .join(cand.select(F.col(id_col).alias("doc_b"), "chunk_fp"), "chunk_fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    rep = (
        pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_chunks"),
            F.sum("__ftok").cast("long").alias("shared_tokens"),
        )
        .filter(F.col("shared_chunks") >= min_shared)
    )
    tot = per.groupBy(F.col(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("__nch")
    )
    return (
        rep.join(tot.select(F.col(id_col).alias("doc_a"), F.col("__nch").alias("chunks_a")), "doc_a")
        .join(tot.select(F.col(id_col).alias("doc_b"), F.col("__nch").alias("chunks_b")), "doc_b")
        .select("doc_a", "doc_b", "shared_chunks", "shared_tokens", "chunks_a", "chunks_b")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 8,
    base1: int = 1_000_003,
    base2: int = 999_983,
) -> DataFrame:
    """Exact-substring duplicate-SPAN detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    suffix-array use case, re-expressed for Spark): report, per document,
    every MAXIMAL token span all of whose length-``min_tokens`` windows
    occur at least twice in the corpus — the spans an exact-substring
    dedup pass would cut. Counts ALL occurrences, so within-document
    repetition (boilerplate headers repeated in one page) is flagged
    exactly like cross-document duplication, matching the paper's
    self-repetition behavior.

    Where the rest of the family sits: `dedup_exact` needs whole-doc
    equality, `dedup_segments`/CDC match chunk granularity, MinHash and
    SemDeDup are probabilistic/semantic — none localizes the EXACT
    duplicated region inside a document. This does, at token resolution,
    without a suffix array: a stride-1 ``min_tokens``-gram fingerprint
    per position (two independent polynomial folds over the shared
    :func:`poly_char_hash` token hashes, packed to 62 bits —
    fp = fold_base1 · 2³¹ + fold_base2, both < 2³¹ so the pack is
    int64-exact; a false span needs BOTH 31-bit folds to collide on the
    same gram, ~2⁻⁶² per pair), a corpus-wide occurrence count, and an
    islands merge of consecutive duplicated starts. Every value is exact
    integer arithmetic → the whole report replays in SQL.

    Scale shape: one O(n·min_tokens) per-row array pass per document
    (the CDC precedent — both folds share ONE window traversal via a
    struct accumulator, the poly_char_hash2 idiom), ONE explode to
    token-position granularity (corpus-token-count rows, linear) that is
    lineage-cut once for its two consumers (a reliable cut under a
    context checkpoint directory, for 1000-executor runs), one
    map-side-combined groupBy(fp) for occurrence counts, one fp-keyed
    semi join back, and one DOC-KEYED window over duplicated positions
    only for the islands merge. Nothing quadratic, nothing data-sized on
    one partition; the span report is the cut-list a rewrite pass
    consumes.

    Returns ``(id, span_start, span_end, span_tokens)`` — 1-based
    inclusive token positions of each maximal duplicated span (length ≥
    ``min_tokens`` by construction). Documents shorter than
    ``min_tokens`` tokens emit nothing.
    """
    _validate_span_params(min_tokens, base1, base2)
    # Lineage-cut the (id, pos, fp) frame ONCE: two consumers hang off it
    # (the fp occurrence count and the semi-join probe side), and without
    # the cut each re-runs the corpus scan + tokenization + the dominant
    # O(n·k) gram folds (the cdc_chunk_dedup_report checkpoint-routing
    # rule; plan audit read scans=2 before the cut).
    staged = _ckpt(
        _span_gram_positions(df, id_col, text_col, min_tokens, base1, base2)
    )
    dup_fps = (
        staged.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("__fp")
    )
    dup_pos = staged.join(dup_fps, "__fp", "left_semi").select(id_col, "__pos")
    return _merge_positions_to_spans(dup_pos, id_col, min_tokens)


def _validate_span_params(min_tokens: int, base1: int, base2: int) -> None:
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    for b in (base1, base2):
        if not 2 <= b < (1 << 31):
            raise ValueError(f"bases must be in [2, 2^31), got {b}")
    if base1 == base2:
        raise ValueError("base1 and base2 must differ (independent folds)")


def _span_gram_positions(
    df: DataFrame, id_col: str, text_col: str, k: int, base1: int, base2: int
) -> DataFrame:
    """(id, __pos, __fp) — the 62-bit stride-1 k-gram fingerprint at every
    1-based token position. BOTH folds share ONE window traversal (the
    poly_char_hash2 idiom: struct accumulator, same per-fold recurrence,
    half the slice/walk work), then the pack fp = h1·2³¹ + h2."""
    m31 = (1 << 31) - 1
    n = F.size(F.col("__tokh"))
    gram = lambda i: F.aggregate(  # noqa: E731
        F.slice(F.col("__tokh"), i, k),
        F.struct(
            F.lit(0).cast("long").alias("h1"), F.lit(0).cast("long").alias("h2")
        ),
        lambda acc, h: F.struct(
            ((acc["h1"] * base1 + h) % F.lit(m31)).alias("h1"),
            ((acc["h2"] * base2 + h) % F.lit(m31)).alias("h2"),
        ),
        lambda acc: acc["h1"] * F.lit(1 << 31) + acc["h2"],
    )
    return (
        df.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .withColumn("__tokh", F.transform(F.col("__toks"), lambda t: poly_char_hash(t)))
        # shorter docs have no k-gram; ALSO keeps F.sequence ascending
        # (sequence(1, n-k+1) with n < k would silently run DESCENDING)
        .filter(n >= k)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(F.sequence(F.lit(1), n - k + 1), gram)
            ).alias("__p0", "__fp"),
        )
        .select(F.col(id_col), (F.col("__p0") + 1).alias("__pos"), F.col("__fp"))
    )


def _merge_positions_to_spans(dup_pos: DataFrame, id_col: str, k: int) -> DataFrame:
    """Islands merge: consecutive duplicated k-gram START positions fold
    into one maximal span [min_start, max_start + k − 1] per run, windowed
    per doc over duplicated positions only."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("__pos").asc())
    return (
        dup_pos.withColumn("__grp", F.col("__pos") - F.row_number().over(w))
        .groupBy(F.col(id_col), F.col("__grp"))
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col(id_col),
            F.col("span_start"),
            F.col("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def duplicate_spans_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 8,
    base1: int = 1_000_003,
    base2: int = 999_983,
) -> DataFrame:
    """Cross-corpus exact-substring spans — SURGICAL decontamination at
    token resolution: report, per NEW/training document, every maximal
    span all of whose length-``min_tokens`` windows occur ANYWHERE in a
    REFERENCE corpus (an eval benchmark set, a previous snapshot). Where
    :func:`..packing.benchmark_contamination` scores whole documents and
    `decontaminate_corpus` drops them, this localizes the leaked region
    so :func:`remove_duplicate_spans` (via ``spans=``) can cut ONLY the
    contaminated text and keep the rest of the document — the
    span-granular decontamination the doc-level threshold can't do.

    Same fingerprints as :func:`duplicate_spans` (shared helpers, so the
    two reports compose on identical gram identities); the reference
    side collapses to its DISTINCT gram-fp set before the semi join —
    at 100 TB the join carries 8-byte fingerprints, never benchmark
    text. Each side's gram pass runs exactly once (single consumer per
    side — no lineage cut needed). Occurrence direction is strictly
    new-vs-ref: repetition WITHIN the new corpus alone does not flag
    (that is :func:`duplicate_spans`' job).

    Returns ``(id, span_start, span_end, span_tokens)`` over the NEW
    side, the :func:`duplicate_spans` schema.
    """
    _validate_span_params(min_tokens, base1, base2)
    new_g = _span_gram_positions(new_df, id_col, text_col, min_tokens, base1, base2)
    ref_fps = (
        _span_gram_positions(ref_df, id_col, text_col, min_tokens, base1, base2)
        .select("__fp")
        .distinct()
    )
    dup_pos = new_g.join(ref_fps, "__fp", "left_semi").select(id_col, "__pos")
    return _merge_positions_to_spans(dup_pos, id_col, min_tokens)


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 8,
    base1: int = 1_000_003,
    base2: int = 999_983,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The REWRITE pass that consumes :func:`duplicate_spans`' cut-list —
    the exact-substring analogue of `cdc_chunk_dedup_report` closing the
    CDC loop: every token position covered by a duplicated span is
    dropped and the survivors are re-joined into deduplicated text.

    Cut policy — ALL occurrences, stated not hidden: like the reference
    ExactSubstr implementation (Lee et al. 2022's released dedup tool),
    removal is destructive — a duplicated span is cut EVERYWHERE it
    occurs, including the "first" copy. A keep-one-occurrence policy
    needs a canonical keeper per duplicate cluster (cross-doc consensus
    on which occurrence survives) and is intentionally not offered.

    Output text is NORMALIZED (lowercased, whitespace collapsed to
    single spaces) because the cut operates on the tokenizer's view;
    byte-faithful reconstruction would need original offsets the
    tokenizer discards. One row per non-null-id input document —
    including token-less and fully-cut documents (empty string).

    Scale shape: :func:`duplicate_spans`' linear pipeline, then ONE
    doc-keyed groupBy collecting each doc's spans (span counts are
    small — merged maximal spans, not grams), one broadcast-eligible
    left join back to the corpus, and a per-row O(n·spans_per_doc)
    rebuild — no new data-sized shuffle beyond the span aggregation.

    Pass a precomputed ``spans`` frame (``duplicate_spans`` output
    columns) to reuse a cut-list across consumers; parameters then only
    govern tokenization of the rebuild side.

    Returns ``(id, text_dedup, n_tokens, tokens_removed)``.
    """
    if spans is None:
        spans = duplicate_spans(
            df, id_col, text_col,
            min_tokens=min_tokens, base1=base1, base2=base2,
        )
    per_doc = spans.groupBy(F.col(id_col)).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("__spans")
    )
    toks = F.coalesce(
        tokens(F.col(text_col)), F.array().cast("array<string>")
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
    )
    kept = F.filter(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.struct(t.alias("t"), (i + 1).cast("long").alias("i")),
        ),
        lambda s: ~covered(s["i"]),
    )
    return (
        df.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), toks.alias("__toks"))
        .join(per_doc, id_col, "left")
        .withColumn(
            "__spans",
            F.coalesce(
                F.col("__spans"),
                F.array().cast("array<struct<s:bigint,e:bigint>>"),
            ),
        )
        .withColumn("__kept", kept)
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("__kept"), lambda s: s["t"]), " "
            ).alias("text_dedup"),
            F.size(F.col("__toks")).cast("long").alias("n_tokens"),
            (F.size(F.col("__toks")) - F.size(F.col("__kept")))
            .cast("long")
            .alias("tokens_removed"),
        )
    )


def dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental exact dedup: admit only new documents whose content does
    not already exist in a reference corpus (the previous snapshot), then
    collapse duplicates within the incoming batch itself (min-id survivor).

    The reference side collapses to DISTINCT sha256 hashes before the
    anti-join — at 100 TB the shuffle carries 32-byte digests, never
    reference text, and a pre-hashed reference corpus can feed this column
    directly. Both the anti-join and the in-batch dedup shuffle on the
    digest; nothing is quadratic.

    Returns the surviving new rows (all original columns).
    """
    # NULL-text sentinel (same as dedup_clusters): sha2(NULL) is NULL and
    # NULL anti-join keys never match, so null-text duplicates would
    # bypass the reference entirely
    h = F.coalesce(
        F.sha2(F.col(text_col).cast("string"), 256), F.lit("__null__")
    )
    ref_hashes = ref_df.select(h.alias("__h")).distinct()
    fresh = new_df.withColumn("__h", h).join(ref_hashes, "__h", "left_anti")
    survivors = dedup_pick_first(fresh, ["__h"], [F.col(id_col).asc()])
    return survivors.drop("__h")


def lsh_pairs_between(
    query_sigs: DataFrame,
    ref_sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """Cross-corpus LSH: candidate near-duplicate pairs between an incoming
    batch and a reference corpus (incremental fuzzy dedup — the self-join
    variant `lsh_candidate_pairs` answers "within one corpus", this answers
    "against what we already have").

    Same banding scheme, same duplicate-collapse prepass on BOTH sides: one
    representative per distinct signature is banded, the band equi-join runs
    at signature granularity (tiny after collapse), and member expansion
    reconstructs id pairs. Identical signatures share every band, so exact
    duplicates of anything in the reference are guaranteed candidates — the
    recall-floor contract `incremental_dedup_checked` locks this.

    Returns distinct (query_id, ref_id) candidate pairs.
    """
    if bands <= 0 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes evenly (got num_hashes={num_hashes}, "
            f"bands={bands})"
        )
    q_banded = _banded_signatures(query_sigs, num_hashes, bands).select(
        F.col("__sig").alias("__sq"), "band_id", "band_sig"
    )
    r_banded = _banded_signatures(ref_sigs, num_hashes, bands).select(
        F.col("__sig").alias("__sr"), "band_id", "band_sig"
    )
    sig_pairs = (
        q_banded.join(r_banded, ["band_id", "band_sig"])
        .select("__sq", "__sr")
        .distinct()  # signature-level, before member fan-out
    )
    qm = query_sigs.select(
        _signature_key(num_hashes).alias("__sq"), F.col(id_col).alias("query_id")
    )
    rm = ref_sigs.select(
        _signature_key(num_hashes).alias("__sr"), F.col(id_col).alias("ref_id")
    )
    return (
        sig_pairs.join(qm, "__sq").join(rm, "__sr").select("query_id", "ref_id")
    )


def content_key(col) -> Column:
    """60-bit integral content key: the first 15 hex chars of the SHA-256
    digest, base-16-decoded. Both engines compute it identically (Spark
    ``conv(substring(sha2(x, 256), 1, 15), 16, 10)``; DuckDB
    ``CAST('0x' || substr(sha256(x), 1, 15) AS BIGINT)``), so sketch
    machinery keyed on it stays oracle-replayable. 60 bits keeps every
    universal-hash product in int64 after the standard 2^31 fold."""
    return F.conv(F.substring(F.sha2(col.cast("string"), 256), 1, 15), 16, 10).cast(
        "long"
    )


def bloom_dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame | None,
    id_col: str,
    text_col: str,
    *,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    seed: int = 7,
    verify: bool = True,
    ref_bits: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup whose reference-side state is a Bloom filter over
    content digests instead of the digest set itself.

    :func:`dedup_against` ships the previous snapshot as DISTINCT 32-byte
    digests — already content-free, but at 100 TB that is still tens of
    billions of rows shuffled per ingest. A Bloom filter at ~10 bits/key
    is ~25x smaller, broadcastable far longer, and merges across snapshots
    by unioning bit positions — the natural *persisted* dedup state.

    Two modes:

    - ``verify=True`` (default, exact): the filter splits the batch into
      definitely-fresh rows (some position unset — Bloom's no-false-
      negative guarantee) and suspects; ONLY suspects anti-join the real
      reference digests. Results are identical to :func:`dedup_against`,
      with the expensive digest shuffle pruned to the suspect fraction
      (duplicates + the filter's false-positive rate).
    - ``verify=False`` (filter-only): suspects are dropped outright.
      State is the filter alone — no reference digests retained — at the
      cost of over-removing exactly the false-positive keys. Deterministic
      universal-hash arithmetic means the over-removal set is
      engine-replayable, so an oracle can (and does) agree bit-for-bit;
      size ``num_bits`` for the acceptable loss rate (~0.6^k at 10
      bits/key).

    Either way, in-batch duplicates then collapse to the min-id survivor
    on the full digest (never the 60-bit probe key, so key collisions
    cannot merge distinct documents). ``ref_bits`` accepts a pre-built
    filter (the persisted-state path); ``ref_df`` may then be omitted
    unless ``verify=True`` needs it.
    """
    from artigraph_spark.operators.sketches import bloom_build

    # NULL-text sentinels (same invariant as dedup_clusters/dedup_against):
    # sha2(NULL)/content_key(NULL) are NULL — NULL probe keys would skip
    # the filter and NULL digests would skip the anti-join, admitting
    # null-text duplicates. content_key lands in [0, 2^60), so -1 is an
    # unreachable sentinel for the probe side.
    def _h(col):
        return F.coalesce(F.sha2(col.cast("string"), 256), F.lit("__null__"))

    def _k(col):
        return F.coalesce(content_key(col), F.lit(-1).cast("long"))

    if ref_bits is None:
        if ref_df is None:
            raise ValueError("need ref_df or a pre-built ref_bits filter")
        ref_bits = bloom_build(
            ref_df.select(_k(F.col(text_col)).alias("__k")),
            "__k",
            num_bits,
            num_hashes,
            seed,
        )
    if verify and ref_df is None:
        raise ValueError("verify=True needs ref_df to check suspects against")
    from artigraph_spark.operators.sketches import bloom_passing_keys

    # r14: `keyed` fans out to up to 3 consumers (the filter probe, the
    # clean anti-join, the verify-mode suspect semi-join) — each would
    # re-run the batch scan plus the sha2/content_key folds. The cut
    # materializes the batch once above the input-size threshold (the
    # batch is the ingest INCREMENT, not the corpus — its one-shot
    # storage is the cheap side of 3 rescans with per-row sha256);
    # no-op at test scale (operators._adaptive.reuse_frame).
    from artigraph_spark.operators._adaptive import reuse_frame

    keyed = reuse_frame(
        new_df.withColumn("__h", _h(F.col(text_col))).withColumn(
            "__k", _k(F.col(text_col))
        )
    )
    suspect_keys = bloom_passing_keys(
        keyed, "__k", ref_bits, num_bits, num_hashes, seed
    )
    clean = keyed.join(suspect_keys, "__k", "left_anti")
    if verify:
        suspects = keyed.join(suspect_keys, "__k", "left_semi")
        ref_hashes = ref_df.select(_h(F.col(text_col)).alias("__h")).distinct()
        admitted = clean.unionByName(suspects.join(ref_hashes, "__h", "left_anti"))
    else:
        admitted = clean
    survivors = dedup_pick_first(admitted, ["__h"], [F.col(id_col).asc()])
    return survivors.drop("__h", "__k")


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    *,
    window: int = 3,
    block_chars: int = 4,
) -> DataFrame:
    """Sorted-neighborhood blocking (the classic record-linkage method):
    order all records by a blocking ``key`` and emit every pair within
    ``window`` positions of each other — candidates for an exact
    similarity check (edit distance, field compare). Complements the
    LSH/shingle blockers: it catches near-dups whose PREFIXES agree
    (typos late in the string) at linear candidate volume (≤ window·n
    pairs), where a fixed-shingle blocker needs whole-shingle agreement.

    The global rank is computed WITHOUT a global window: records bucket
    by the first ``block_chars`` characters of the key (a prefix range
    is contiguous in lexicographic order, so bucket order == key order;
    Spark, Python, and DuckDB all compare strings by code point), rank
    locally per bucket, and shift by driver-collected per-bucket counts
    — the packing module's two-phase prefix-sum shape, with a
    summary-sized (≤ distinct prefixes) metadata collect. Choose
    ``block_chars`` so prefix cardinality stays metadata-sized while no
    single prefix bucket exceeds a partition.

    Ordering is ``(key, id)`` — ties on the key are broken by the
    (unique) id, so ranks, and therefore the pair set, are deterministic
    and oracle-replayable. NULL keys/ids are excluded. Returns
    ``(a, b, rank_gap, key_a, key_b)`` with ``a`` the lower-ranked id of
    the pair and ``rank_gap`` in 1..window.
    """
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    if block_chars <= 0:
        raise ValueError(f"block_chars must be positive, got {block_chars}")
    from pyspark.sql import types as T

    spark = df.sparkSession
    slim = df.select(
        key.cast("string").alias("__k"), F.col(id_col).alias("__id")
    ).filter(F.col("__k").isNotNull() & F.col("__id").isNotNull())
    bucketed = slim.withColumn("__b", F.substring("__k", 1, block_chars))
    counts = (
        bucketed.groupBy("__b").agg(F.count(F.lit(1)).alias("__c")).collect()
    )
    acc, offsets = 0, []
    for r in sorted(counts, key=lambda r: r["__b"]):
        offsets.append((r["__b"], acc))
        acc += int(r["__c"])
    off_df = spark.createDataFrame(
        offsets,
        T.StructType(
            [T.StructField("__b", T.StringType()), T.StructField("__off", T.LongType())]
        ),
    )
    w = Window.partitionBy("__b").orderBy("__k", "__id")
    ranked = (
        bucketed.join(F.broadcast(off_df), "__b")
        .select(
            "__k",
            "__id",
            (F.row_number().over(w) + F.col("__off")).alias("__r"),
        )
    )
    a = ranked.select(
        F.col("__id").alias("a"), F.col("__k").alias("key_a"), F.col("__r")
    ).select(
        "a", "key_a", "__r", F.explode(
            F.array(*[F.lit(j) for j in range(1, window + 1)])
        ).alias("rank_gap"),
    )
    b = ranked.select(
        F.col("__id").alias("b"),
        F.col("__k").alias("key_b"),
        F.col("__r").alias("__rb"),
    )
    return a.join(b, F.col("__r") + F.col("rank_gap") == F.col("__rb")).select(
        "a", "b", F.col("rank_gap").cast("long").alias("rank_gap"), "key_a", "key_b"
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    candidate_filter: Column | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Token-set CONTAINMENT over document pairs (a < b):
    ``|A∩B| / min(|A|,|B|)`` — the asymmetric near-dup measure Jaccard
    misses: a short document fully embedded in a much longer one has
    containment 1.0 but Jaccard ≈ |A|/|B| → 0, so quote-expansions,
    boilerplate-wrapped copies, and truncated duplicates slip every
    symmetric threshold. Deduplication suites run BOTH (this is the
    ngram_jaccard_pairs sibling; same candidate contract).

    The scale path is ``candidates`` (e.g. LSH pairs) joined with two
    equi-joins — never all-pairs; the unrestricted self-join must be
    opted into with ``allow_quadratic=True`` on a provably bounded
    input, else this raises. C(∅,∅)=1 by the same identical-documents
    convention as Jaccard.

    Returns ``(a, b, containment)``, containment exact
    ``intersection/min-size`` as double (single division of exact ints).
    """
    toks = df.select(
        F.col(id_col), F.array_distinct(tokens(F.col(text_col))).alias("toks")
    )
    if candidates is not None:
        ta = toks.select(F.col(id_col).alias("a"), F.col("toks").alias("toks_a"))
        tb = toks.select(F.col(id_col).alias("b"), F.col("toks").alias("toks_b"))
        pairs = candidates.select("a", "b").join(ta, "a").join(tb, "b")
    else:
        if candidate_filter is None and not allow_quadratic:
            raise ValueError(
                "containment_pairs without `candidates` is an all-pairs "
                "cross product; pass candidates= (e.g. from "
                "lsh_candidate_pairs) or opt in with allow_quadratic=True "
                "on a bounded input"
            )
        a = toks.select(F.col(id_col).alias("a"), F.col("toks").alias("toks_a"))
        b = toks.select(F.col(id_col).alias("b"), F.col("toks").alias("toks_b"))
        pairs = a.join(b, F.col("a") < F.col("b"))
        if candidate_filter is not None:
            pairs = pairs.filter(candidate_filter)
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    msz = F.least(F.size("toks_a"), F.size("toks_b")).cast("double")
    containment = F.when(msz > 0, inter / msz).otherwise(F.lit(1.0))
    return (
        pairs.withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )


@dataclasses.dataclass(frozen=True)
class LinkageField:
    """One Fellegi–Sunter comparison field: ``agree`` is a Column predicate
    over the pair frame (columns suffixed ``_a``/``_b``), ``m`` the
    agreement probability among true matches, ``u`` among non-matches.
    Weights are the standard log-likelihood ratios, precomputed in Python
    so both engines see identical double literals."""

    name: str
    m: float
    u: float

    @property
    def agree_weight(self) -> float:
        import math

        return math.log(self.m / self.u)

    @property
    def disagree_weight(self) -> float:
        import math

        return math.log((1.0 - self.m) / (1.0 - self.u))


def fellegi_sunter_scores(
    pairs: DataFrame,
    agreements: dict[str, Column],
    fields: list[LinkageField],
    *,
    upper: float,
    lower: float,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage scoring over a
    CANDIDATE pair frame (from sorted_neighborhood_pairs, LSH, or any
    blocker — never all-pairs): each comparison field contributes its
    log-likelihood agreement weight ``ln(m/u)`` when the pair agrees and
    ``ln((1−m)/(1−u))`` when it disagrees; the summed score classifies
    into ``match`` (≥ upper) / ``possible`` (≥ lower) / ``non_match``
    — the 1969 framework every production entity-resolution system
    (Splink, dedupe.io, JedAI) still implements.

    ``agreements`` maps field name → Boolean Column over ``pairs``;
    ``fields`` carries the (m, u) parameters. Weights are Python-
    precomputed double literals (engine-identical); the score is a sum
    of ≤len(fields) literals per row — pure projection, zero shuffles
    beyond what the blocker already did, scan-linear at any scale.
    NULL agreement (either side missing) contributes 0 — the standard
    missing-field neutrality.

    Returns ``pairs`` plus ``(score_r, decision)``.
    """
    missing = [f.name for f in fields if f.name not in agreements]
    if missing:
        raise ValueError(f"agreements lacks fields: {missing}")
    for f_ in fields:
        if not (0.0 < f_.u < f_.m < 1.0):
            raise ValueError(
                f"field {f_.name!r} needs 0 < u < m < 1, got m={f_.m} u={f_.u}"
            )
    if lower > upper:
        raise ValueError(f"lower ({lower}) must be <= upper ({upper})")
    score = None
    for f_ in fields:
        a = agreements[f_.name]
        contrib = (
            F.when(a.isNull(), F.lit(0.0))
            .when(a, F.lit(f_.agree_weight))
            .otherwise(F.lit(f_.disagree_weight))
        )
        score = contrib if score is None else score + contrib
    out = pairs.withColumn("score_r", F.round(score, 9))
    return out.withColumn(
        "decision",
        F.when(F.col("score_r") >= F.lit(upper), F.lit("match"))
        .when(F.col("score_r") >= F.lit(lower), F.lit("possible"))
        .otherwise(F.lit("non_match")),
    )
