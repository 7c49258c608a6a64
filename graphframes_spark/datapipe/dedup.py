"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine.

The near-dup pipelines all share one shape — candidate generation that
is *never* all-pairs, then exact verification, then grouping via
``connectedComponents`` over the verified similarity edges (the CC
building block is the two-phase AQE variant, already hub-safe):

    docs → signatures → bucket join (LSH bands)   # |candidates| << n^2
         → exact-measure filter (Jaccard / Hamming / cosine)
         → similarity edges → connectedComponents → (id, component)

100 TB posture: signatures are narrow per-row transforms (JVM built-ins,
no UDFs); the only shuffles are the bucket self-join (keyed on band
hash — bounded buckets; a pathological bucket is AQE-skew-split), the
verification join, and CC. Nothing is collected to the driver; no
per-row state exceeds the signature width.

MinHash permutations use ``md5(perm || ':' || shingle)`` rather than
xxhash64 so the DuckDB oracle can replicate signatures bit-for-bit;
swap in ``xxhash64`` for production speed (same structure, one line).

Cites: the dedup-as-CC design follows SURVEY.md §7 Phase 5; CC itself
follows lib/TwoPhase.scala:331-443.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphframes_spark.datapipe.text import fingerprint, shingles, tokenize
from graphframes_spark.util import GraphFramesError

ID = "id"
COMPONENT = "component"


# -------------------------------------------------------------- exact dedup


def exact_dedup(df: DataFrame, key_cols: Sequence[str], id_col: str = "id") -> DataFrame:
    """Exact duplicate grouping over ``key_cols``: one hash-aggregation.

    Returns DF[<id_col>, canonical_id, group_size]; ``canonical_id`` is
    the min id sharing the key. At scale this is a single shuffle on the
    (hashed) key; with parquet bucketing on the key it is shuffle-free.
    """
    groups = df.groupBy(*key_cols).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size")
    )
    return df.join(groups, on=list(key_cols), how="inner").select(
        F.col(id_col), F.col("canonical_id"), F.col("group_size")
    )


# ----------------------------------------------------------- MinHash + LSH


_MINHASH_MASK = (1 << 48) - 1


def minhash_signature(shingle_col: Column, num_perm: int) -> Column:
    """Array of ``num_perm`` MinHash values (longs).

    One md5 per shingle, split into two 48-bit halves; permutation p is
    the Kirsch-Mitzenmacher double hash ``(h1 + p*h2) & (2^48-1)`` —
    32x fewer hash computations than md5-per-permutation, same
    collision behavior, still bit-replicable in the DuckDB oracle
    (hex-substring -> integer arithmetic on both engines)."""

    # stage 1: one md5 per shingle -> (h1, h2) halves; stage 2: expand to
    # the per-permutation values; staged so the hash is not re-evaluated
    # inside every array element's expression tree
    halves = F.transform(
        shingle_col,
        lambda s: F.struct(
            F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(F.md5(s), 13, 12), 16, 10).cast("long").alias("h2"),
        ),
    )
    perms = F.transform(
        halves,
        lambda z: F.array(
            *[
                (z["h1"] + F.lit(p) * z["h2"]).bitwiseAND(F.lit(_MINHASH_MASK))
                for p in range(num_perm)
            ]
        ),
    )
    init = F.array_repeat(F.lit(1 << 62).cast("long"), num_perm)
    return F.aggregate(
        perms,
        init,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
    )


def _minhash_sigs(
    df: DataFrame, id_col: str, text_col: str, shingle_len: int, num_perm: int
) -> DataFrame:
    """DF[_id, _sig]: the ``minhash_signature`` values, computed by
    explode + one codegen ``min`` per permutation (whole-stage codegen
    and map-side partial aggregation; measurably faster than the
    per-row HOF fold). A document with fewer than ``shingle_len``
    tokens has no shingles, so it gets no row and is never a candidate."""
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(tokenize(F.col(text_col)), shingle_len)).alias("_s"),
    ).select(
        "_id",
        F.conv(F.substring(F.md5("_s"), 1, 12), 16, 10).cast("long").alias("_h1"),
        F.conv(F.substring(F.md5("_s"), 13, 12), 16, 10).cast("long").alias("_h2"),
    )
    mins = hashed.groupBy("_id").agg(
        *[
            F.min(
                (F.col("_h1") + F.lit(p) * F.col("_h2")).bitwiseAND(
                    F.lit(_MINHASH_MASK)
                )
            ).alias(f"_m{p}")
            for p in range(num_perm)
        ]
    )
    return mins.select(
        "_id", F.array(*[F.col(f"_m{p}") for p in range(num_perm)]).alias("_sig")
    )


def _band_table(
    df: DataFrame, id_col: str, sig_col: str, num_bands: int, rows_per_band: int
) -> DataFrame:
    """DF[_id, band, bhash] — one md5 band hash per (document, band)."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at(
                                        F.col(sig_col), b * rows_per_band + r + 1
                                    )
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bhash"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_b.band", "_b.bhash")


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from a band table."""
    left = bands.select(F.col("_id").alias("id_a"), "band", "bhash")
    right = bands.select(F.col("_id").alias("id_b"), "band", "bhash")
    return (
        left.join(right, on=["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    num_bands: int,
    rows_per_band: int,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing at least one LSH
    band: explode each signature into ``num_bands`` band hashes, self-join
    on (band index, band hash). The join key space is the band-hash
    domain — buckets stay small for honest thresholds; AQE splits any
    pathological bucket.

    Scale note (measured round 12): Catalyst does NOT dedup the two
    sides of this self-join — neither static ReuseExchange nor AQE stage
    reuse fires on them (the self-join dedup mints fresh exprIds on one
    side) — so once the band table outgrows the broadcast threshold the
    plan builds the exploded band table twice and shuffles it twice.
    Building it once, persisted pre-partitioned on the join key, was
    measured and REJECTED at both sf0.1 and a 2M-doc SMJ-regime rung
    (BENCH_dedup_band_r12.json): the band-table cache traffic costs more
    than the duplicate build+exchange it removes."""
    return _band_pairs(_band_table(df, id_col, sig_col, num_bands, rows_per_band))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_perm: int = 32,
    num_bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate grouping: MinHash-LSH candidates, exact-Jaccard
    verification, components over the verified edges.

    Returns DF[id, component] for every input row (non-duplicates form
    singleton components keyed by their own id).

    Memory discipline (the 100 TB constraint that shapes this plan):
    only the signature table — num_perm longs per document — is ever
    cached. Shingle arrays are corpus-sized (a multiple of the raw
    text), so instead of persisting them for the verify stage they are
    *recomputed* for exactly the documents that appear in a candidate
    pair (a semi-join against the candidate ids, typically a tiny
    fraction of the corpus). One extra scan of the duplicate-suspect
    slice buys never holding corpus-sized state — the same
    scan-vs-state trade Spark's own shuffle spill makes.
    """
    from graphframes_spark.graphframe import GraphFrame

    assert num_perm % num_bands == 0
    rows_per_band = num_perm // num_bands

    sigs = _minhash_sigs(df, id_col, text_col, shingle_len, num_perm).persist()
    # Band-join shape: Catalyst never dedups the two sides of the banding
    # self-join (no ReuseExchange / AQE stage reuse fires — measured,
    # round 12), so past the broadcast threshold the band table is built
    # and shuffled twice. The obvious fix — build it once, persisted
    # pre-partitioned on the join key so the join runs exchange-free —
    # was MEASURED AND REJECTED (BENCH_dedup_band_r12.json): −25% at
    # sf0.1 (where the legacy join broadcasts and has no exchange at
    # all) and −9..−13% at the 2M-doc rung where the join IS a
    # SortMergeJoin (verified from the plan): the cache write + two
    # cache reads of the band table cost more than the one exchange and
    # one Generate they remove. The narrow band rows are cheap to
    # shuffle; the double build is cheap to recompute.
    cands = lsh_candidate_pairs(sigs, "_id", "_sig", num_bands, rows_per_band)
    cands = cands.persist()

    # shingles only for candidate-pair members: semi-join then recompute
    cand_ids = (
        cands.select(F.explode(F.array("id_a", "id_b")).alias(ID)).distinct()
    )
    cand_sh = df.select(
        F.col(id_col).alias(ID),
        shingles(tokenize(F.col(text_col)), shingle_len).alias("_sh"),
    ).join(cand_ids, on=ID, how="left_semi")
    # the verify join consumes cand_sh TWICE (sh_a and sh_b) and Catalyst
    # does not dedup the two subtrees, so the candidate slice's
    # tokenize+shingle pass would run twice; persist it (candidate-sized,
    # a tiny fraction of the corpus) so it runs once: +7.3% at a 2M-doc
    # rung (BENCH_dedup_band_r12.json), a wash at sf0.1
    # (BENCH_knob_retire.json).
    cand_sh = cand_sh.persist()
    sh_a = cand_sh.select(F.col(ID).alias("id_a"), F.col("_sh").alias("_sh_a"))
    sh_b = cand_sh.select(F.col(ID).alias("id_b"), F.col("_sh").alias("_sh_b"))
    edges = (
        cands.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .filter(jaccard(F.col("_sh_a"), F.col("_sh_b")) >= F.lit(threshold))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )

    # eager local checkpoint: the verified-edge plan embeds the whole
    # shingle/signature/band pipeline; without truncation every CC
    # round's plan (and its listener-rendered string form) re-embeds it
    edges = edges.localCheckpoint(eager=True)

    v = df.select(F.col(id_col).alias(ID))
    out = GraphFrame(v, edges).connectedComponents()
    sigs.unpersist()
    cands.unpersist()
    cand_sh.unpersist()
    return out.select(ID, COMPONENT)


# ------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs via an inverted shingle index (no LSH,
    no all-pairs): pairs sharing >= 1 shingle are the only ones with
    Jaccard > 0, so posting-list self-join + count is exhaustive.

    Scale note: common shingles create hot posting lists; a production
    run drops stop-shingles above a document-frequency cap first (same
    pruning the candidate count here is already bounded by), and AQE
    splits the residual skew.
    """
    # eager local checkpoint: shingle sets are read twice (postings and
    # sizes) and the result stays lazy — a persist would either be
    # unpersisted before any action or leak
    sh = df.select(
        F.col(id_col).alias(ID),
        shingles(tokenize(F.col(text_col)), n).alias("_sh"),
    ).localCheckpoint(eager=True)
    postings = sh.select(ID, F.explode("_sh").alias("_g"))
    pa = postings.select(F.col(ID).alias("id_a"), "_g")
    pb = postings.select(F.col(ID).alias("id_b"), "_g")
    common = (
        pa.join(pb, on="_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_common"))
    )
    sizes = sh.select(ID, F.size("_sh").alias("_n"))
    out = (
        common.join(sizes.select(F.col(ID).alias("id_a"), F.col("_n").alias("_na")), on="id_a")
        .join(sizes.select(F.col(ID).alias("id_b"), F.col("_n").alias("_nb")), on="id_b")
        .withColumn(
            "jaccard",
            F.col("_common") / (F.col("_na") + F.col("_nb") - F.col("_common")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    return out


# ----------------------------------------------------------------- SimHash


def simhash48(tokens: Column) -> Column:
    """48-bit SimHash over distinct tokens, as a long.

    Per token: 48 bits from the first 12 hex chars of md5 (cross-engine
    replicable; 48 bits keeps the hex->long conversion inside signed-long
    range on every engine). Bit b of the hash is the sign of the sum of
    (+1/-1) votes across tokens.
    """
    tok_hash = F.transform(
        F.array_distinct(tokens),
        lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
    )
    bits = [
        F.when(
            F.aggregate(
                tok_hash,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
            )
            > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(48)
    ]
    out = F.lit(0).cast("long")
    for b, bit in enumerate(bits):
        out = out + F.shiftleft(bit, b)
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    max_hamming: int = 7,
    num_bands: int = 8,
    num_bits: int = 96,
) -> DataFrame:
    """Pairs within ``max_hamming`` SimHash bits, via bit-band LSH.

    With ``num_bits`` in ``num_bands`` equal chunks and ``max_hamming <
    num_bands``, the pigeonhole principle guarantees two qualifying
    documents agree on at least one full chunk — the banding is lossless,
    so the result equals the brute-force answer while joining only on
    chunk buckets.

    **The default signature is 96 bits — the scale-safe setting** (the
    round-8 lesson, measured in ``BENCH_dp_scale.json``): each band has
    ``2^(num_bits/num_bands)`` buckets and candidate volume grows
    ~``N²/2^chunk`` once buckets saturate. The old 48-bit default (6-bit
    chunks, 64 buckets/band) went super-linear (t(4x)/t(1x) = 12.8) at a
    500k-doc base while minhash-LSH stayed linear; 96-bit signatures
    (12-bit chunks, 4096 buckets/band at num_bands=8) defer saturation by
    ~64x, and their extra cost at small corpora is a second md5 substring
    per token plus 48 more codegen sum-aggregates — negligible. Pass
    ``num_bits=48`` only for tiny corpora where the narrower hamming
    space is specifically wanted; prefer ``minhash_lsh_dedup`` when the
    corpus outgrows what any fixed signature width can keep sub-quadratic
    (its bucket space grows with the corpus). In 96-bit mode any
    ``num_bands`` whose chunk width (``num_bits/num_bands``) divides 48
    is accepted (2, 4, 6, 8, 12, 16, 24, 32, 48, 96): a chunk width
    dividing 48 aligns every band boundary with the word boundary at bit
    48, so no band straddles the two 48-bit signature words.

    ``id_col`` must be unique: signatures are computed per id (one
    vote-aggregate over all rows sharing the id), so duplicate ids get a
    single merged signature rather than one per row. Dedupe on ``id_col``
    first if your input can repeat ids (same contract as
    ``minhash_lsh_dedup``).
    """
    assert num_bits in (48, 96) and max_hamming < num_bands
    assert num_bits % num_bands == 0
    chunk = num_bits // num_bands
    if num_bits == 96:
        assert 48 % chunk == 0, "96-bit bands must not straddle signature words"
    # same values as simhash48(), computed as explode -> one md5 per
    # distinct token -> 48 codegen sum-aggregates (map-side partial agg;
    # far cheaper than 48 per-row HOF folds re-walking the token array)
    n_words = num_bits // 48
    word_cols = [
        F.conv(F.substring(F.md5("_t"), 1 + 12 * w, 12), 16, 10)
        .cast("long")
        .alias(f"_h{w}")
        for w in range(n_words)
    ]
    tok = df.select(
        F.col(id_col).alias(ID),
        F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("_t"),
    ).select(ID, *word_cols)
    votes = tok.groupBy(ID).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"_h{b // 48}"), b % 48).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(num_bits)
        ]
    )
    sims = []
    for w in range(n_words):
        sim = F.lit(0).cast("long")
        for i in range(48):
            b = w * 48 + i
            sim = sim + F.shiftleft(
                F.when(F.col(f"_v{b}") > 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                i,
            )
        sims.append(sim.alias(f"_sim{w}"))
    # left join: rows with zero tokens have no votes -> all bits 0,
    # matching the HOF fold over an empty array
    sim_names = [f"_sim{w}" for w in range(n_words)]
    sh = (
        df.select(F.col(id_col).alias(ID))
        .join(votes.select(ID, *sims), on=ID, how="left")
        .select(
            ID,
            *[
                F.coalesce(F.col(n), F.lit(0).cast("long")).alias(n)
                for n in sim_names
            ],
        )
        .localCheckpoint(eager=True)
    )
    # band b covers global bits [b*chunk, (b+1)*chunk), always inside one
    # 48-bit signature word (asserted above for 96-bit mode)
    bands = sh.select(
        ID,
        *sim_names,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(
                            F.col(f"_sim{(b * chunk) // 48}"), (b * chunk) % 48
                        )
                        .bitwiseAND(F.lit((1 << chunk) - 1))
                        .alias("chunk"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("_b"),
    ).select(ID, *sim_names, "_b.band", "_b.chunk")
    left = bands.select(
        F.col(ID).alias("id_a"),
        *[F.col(n).alias(f"_sa{w}") for w, n in enumerate(sim_names)],
        "band",
        "chunk",
    )
    right = bands.select(
        F.col(ID).alias("id_b"),
        *[F.col(n).alias(f"_sb{w}") for w, n in enumerate(sim_names)],
        "band",
        "chunk",
    )
    hamming = sum(
        (
            F.bit_count(F.col(f"_sa{w}").bitwiseXOR(F.col(f"_sb{w}")))
            for w in range(n_words)
        ),
        F.lit(0),
    )
    # hamming filter BEFORE the distinct: it is per-candidate-cheap, cuts
    # failing candidates ahead of the dedup shuffle, and lets the distinct
    # key carry just the two ids (signatures are functionally dependent)
    out = (
        left.join(right, on=["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming <= F.lit(max_hamming))
        .select("id_a", "id_b")
        .distinct()
    )
    return out


# ------------------------------------------------------- embedding cosine


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two numeric arrays (JVM-side fold, no UDF)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_a = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    norm_b = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return dot / (norm_a * norm_b)


#: fixed-point quantization step for cross-engine sign sketches: 2^12, so
#: ``x * QUANT`` is an exact double scaling and ``floor`` of it is engine-
#: independent
_SKETCH_QUANT = 4096


def _plane_component(p, d: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1000, 1000].

    Three rounds of a Lehmer-style LCG mod 65521 (prime), seeded from the
    (plane, dimension) pair. Every intermediate stays below 65520 * 17364
    ≈ 1.14e9 < 2^31, so the formula is exact in *int32 or wider* on any
    engine — expressible identically in Spark and ANSI SQL / DuckDB,
    which lets banded-LSH candidate sets be hash-verified by an external
    oracle. ``p`` is a Python int (plane index), ``d`` the dim column.
    """
    h = (F.lit(p * 131) + d + F.lit(1)) % F.lit(65521)
    for _ in range(3):
        h = (h * F.lit(17364) + F.lit(575)) % F.lit(65521)
    return (h % F.lit(2001) - F.lit(1000)).cast("long")


def banded_hyperplane_sketches(
    vec: Column, planes_per_band: int, bands: int
) -> Column:
    """array<struct<band:int, sketch:long>> — one sign-LSH sketch per band.

    Bit ``j`` of band ``b``'s sketch is the sign of the dot product of the
    *quantized* vector (``floor(x * 4096)`` as int64) with deterministic
    plane ``b * planes_per_band + j``. Integer dot products are exact and
    summation-order-independent, so the sketch is bit-identical across
    engines and across partitionings — the property the correctness
    oracle (and deterministic retries at 100 TB) rely on. Quantization
    only perturbs vectors by < 2^-12 per component, immaterial for an
    LSH *candidate* filter (the exact cosine check runs afterwards).
    """
    q = F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(_SKETCH_QUANT)).cast("long")
    )
    dims = F.sequence(F.lit(0), F.size(vec) - 1)

    # NB: binding the plane index via a lambda default (``lambda d, p=p``)
    # would make the lambda binary, which F.transform interprets as an
    # (element, index) lambda — silently feeding the array index in as p.
    def _plane_fn(p):
        return lambda d: _plane_component(p, d)

    entries = []
    for b in range(bands):
        sketch = F.lit(0).cast("long")
        for j in range(planes_per_band):
            p = b * planes_per_band + j
            plane = F.transform(dims, _plane_fn(p))
            dot = F.aggregate(
                F.zip_with(q, plane, lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            bit = F.when(dot > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
            sketch = sketch + F.shiftleft(bit, j)
        entries.append(
            F.struct(F.lit(b).cast("int").alias("band"), sketch.alias("sketch"))
        )
    return F.array(*entries)


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bucket_planes: Optional[int] = 4,
    bands: int = 8,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    Default path (the 100 TB path): banded random-hyperplane LSH — a
    vector emits one sketch per band (OR-of-ANDs, same structure as the
    MinHash bands), candidates are pairs agreeing on *any* band's sketch,
    and every candidate is verified with the exact cosine before being
    returned. No all-pairs comparison anywhere: the only shuffle is the
    (band, sketch) self-join, whose hot buckets AQE skew-splits. Recall
    is < 1 by LSH design — raise ``bands`` (more rotations) to taste.

    ``bucket_planes=0`` (or ``None``) is the explicit opt-in to the exact
    quadratic baseline: verify all pairs via ``crossJoin``. Use only for
    oracle validation and small slices.
    """
    # normalize once per vector (O(n)) so each pair needs only the dot
    # product (O(n^2) pairs x 1 fold instead of 3)
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if bucket_planes:
        sketches = banded_hyperplane_sketches(
            F.col(vec_col), bucket_planes, bands
        )
        tagged = df.select(
            F.col(id_col).alias(ID),
            F.transform(F.col(vec_col), lambda x: x.cast("double") / norm).alias("_v"),
            F.explode(sketches).alias("_bs"),
        ).select(ID, "_v", "_bs.band", "_bs.sketch")
        a = tagged.select(
            F.col(ID).alias("id_a"), F.col("_v").alias("_va"), "band", "sketch"
        )
        b = tagged.select(
            F.col(ID).alias("id_b"), F.col("_v").alias("_vb"), "band", "sketch"
        )
        # cosine check BEFORE the distinct (mirrors the simhash path): it
        # is per-candidate-cheap, cuts failing candidates ahead of the
        # dedup shuffle, and the distinct key carries just the two ids
        return (
            a.join(b, on=["band", "sketch"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(dot >= F.lit(threshold))
            .select("id_a", "id_b")
            .distinct()
        )
    vecs = df.select(
        F.col(id_col).alias(ID),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / norm).alias("_v"),
    )
    a = vecs.select(F.col(ID).alias("id_a"), F.col("_v").alias("_va"))
    b = vecs.select(F.col(ID).alias("id_b"), F.col("_v").alias("_vb"))
    cands = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return cands.filter(dot >= F.lit(threshold)).select("id_a", "id_b")


def embedding_dedup(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bucket_planes: Optional[int] = 4,
    bands: int = 8,
) -> DataFrame:
    """Near-dup grouping over embedding-cosine edges → DF[id, component].

    Candidate generation defaults to banded hyperplane LSH (see
    ``embedding_cosine_pairs``); pass ``bucket_planes=0`` for the exact
    quadratic baseline.
    """
    from graphframes_spark.graphframe import GraphFrame

    pairs = embedding_cosine_pairs(df, id_col, vec_col, threshold, bucket_planes, bands)
    v = df.select(F.col(id_col).alias(ID))
    e = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint(eager=True)
    return GraphFrame(v, e).connectedComponents().select(ID, COMPONENT)


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "exact",
    quality_col: Optional[str] = None,
    shingle_len: int = 3,
    num_perm: int = 32,
    num_bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """One-call corpus dedup capstone: group duplicates, keep the best
    copy. Returns the input columns plus ``dedup_group`` (string for
    ``method="exact"`` — the normalized-content fingerprint; the
    component id for ``method="minhash"``) and ``keep: boolean``
    (exactly one True per group: highest quality, ties to smallest id).

    ``method="exact"``: duplicates = identical whitespace-normalized
    lower-cased content (the :func:`~graphframes_spark.datapipe.text.
    fingerprint` key — one hash-aggregation shuffle).
    ``method="minhash"``: near-duplicates via MinHash-LSH banding +
    exact-Jaccard verification + connected components
    (:func:`minhash_lsh_dedup`).

    ``quality_col`` ranks copies within a group (default: whitespace
    token count — keep the longest). The final selection is
    :func:`~graphframes_spark.datapipe.sampling.dedup_keep_best`'s
    single group-keyed window.
    """
    from graphframes_spark.datapipe.sampling import dedup_keep_best
    from graphframes_spark.datapipe.text import fingerprint, token_count
    from graphframes_spark.util import GraphFramesError

    if method == "exact":
        grouped = df.withColumn("dedup_group", fingerprint(F.col(text_col)))
    elif method == "minhash":
        comps = minhash_lsh_dedup(
            df,
            id_col=id_col,
            text_col=text_col,
            shingle_len=shingle_len,
            num_perm=num_perm,
            num_bands=num_bands,
            threshold=threshold,
        )
        grouped = df.join(
            comps.select(
                F.col(ID).alias(id_col), F.col(COMPONENT).alias("dedup_group")
            ),
            on=id_col,
        )
    else:
        raise GraphFramesError(
            f"dedup_corpus method must be 'exact' or 'minhash', got {method!r}"
        )
    if quality_col is None:
        grouped = grouped.withColumn("_dq", token_count(F.col(text_col)))
        out = dedup_keep_best(grouped, "dedup_group", "_dq", id_col).drop("_dq")
    else:
        out = dedup_keep_best(grouped, "dedup_group", quality_col, id_col)
    return out


# ------------------------------------------------- cross-corpus dedup


def cross_corpus_dedup(
    incoming: DataFrame,
    reference: DataFrame,
    method: str = "exact",
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: Optional[str] = None,
    ref_text_col: Optional[str] = None,
    shingle_len: int = 3,
    num_perm: int = 32,
    num_bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental-ingest dedup: drop each ``incoming`` document that
    duplicates a ``reference``-corpus document, returning the surviving
    ``incoming`` rows with their full schema. The batch-over-batch shape
    of a production crawl pipeline: the already-accepted corpus is the
    reference; only new docs are candidates for removal (reference rows
    are never touched, unlike the self-dedup operators above).

    ``method='exact'``: md5 fingerprint of the whitespace-normalized
    lower-cased text (datapipe/text.py fingerprint), one hash-keyed
    ``left_anti`` join. 100 TB posture: both sides reduce to 32-char
    keys before the exchange; the join is bucketing-friendly (cluster
    both corpora by fingerprint and the anti-join is shuffle-free), and
    a Bloom prefilter (datapipe/bloom.py build_bloom over the reference
    fingerprints) can drop non-matching incoming rows scan-side when the
    reference fits a broadcast filter but not a broadcast join.

    ``method='minhash'``: MinHash-LSH band join *across* the corpora
    (incoming bands probe reference bands — never incoming×incoming, so
    a duplicate-heavy batch cannot self-collapse), exact-Jaccard
    verification at ``threshold``, anti-join on verified matches. A
    document with fewer than ``shingle_len`` tokens has no shingles and
    is never a candidate, so it always survives; use ``method='exact'``
    for such short documents.
    """
    ref_id = ref_id_col or id_col
    ref_text = ref_text_col or text_col
    if method == "exact":
        inc_fp = incoming.withColumn("_fp", fingerprint(F.col(text_col)))
        ref_fp = reference.select(
            fingerprint(F.col(ref_text)).alias("_fp")
        ).distinct()
        return inc_fp.join(ref_fp, on="_fp", how="left_anti").drop("_fp")
    if method != "minhash":
        raise GraphFramesError(
            f"cross_corpus_dedup method must be 'exact' or 'minhash', got {method!r}"
        )

    assert num_perm % num_bands == 0
    rows_per_band = num_perm // num_bands

    inc_sigs = _minhash_sigs(incoming, id_col, text_col, shingle_len, num_perm)
    inc_sigs = inc_sigs.persist()
    ref_sigs = _minhash_sigs(reference, ref_id, ref_text, shingle_len, num_perm)
    ref_sigs = ref_sigs.persist()
    cands = (
        _band_table(inc_sigs, "_id", "_sig", num_bands, rows_per_band)
        .withColumnRenamed("_id", "_inc_id")
        .join(
            _band_table(ref_sigs, "_id", "_sig", num_bands, rows_per_band)
            .withColumnRenamed("_id", "_ref_id"),
            on=["band", "bhash"],
        )
        .select("_inc_id", "_ref_id")
        .distinct()
        .persist()
    )

    def _cand_sh(df: DataFrame, idc: str, txtc: str, side: str) -> DataFrame:
        ids = cands.select(F.col(side).alias("_id")).distinct()
        return df.select(
            F.col(idc).alias("_id"),
            shingles(tokenize(F.col(txtc)), shingle_len).alias("_sh"),
        ).join(ids, on="_id", how="left_semi")

    dup_ids = (
        cands.join(
            _cand_sh(incoming, id_col, text_col, "_inc_id").select(
                F.col("_id").alias("_inc_id"), F.col("_sh").alias("_sh_a")
            ),
            on="_inc_id",
        )
        .join(
            _cand_sh(reference, ref_id, ref_text, "_ref_id").select(
                F.col("_id").alias("_ref_id"), F.col("_sh").alias("_sh_b")
            ),
            on="_ref_id",
        )
        .filter(jaccard(F.col("_sh_a"), F.col("_sh_b")) >= F.lit(threshold))
        .select(F.col("_inc_id").alias(id_col))
        .distinct()
    )
    out = incoming.join(dup_ids, on=id_col, how="left_anti")
    # materialize before unpersisting the signature inputs the plan embeds
    out = out.localCheckpoint(eager=True)
    inc_sigs.unpersist()
    ref_sigs.unpersist()
    cands.unpersist()
    return out
