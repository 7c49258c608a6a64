"""DuckDB oracle SQL for every oracled ``__spark_entry__.queries()`` entry.

Split out of ``__spark_entry__.py`` (round 7) to keep the driver-contract
file reviewable; the registry, fixtures, and shared constants stay there.
Imported lazily by ``__spark_entry__.oracle_sql()`` so the two modules
never form an import cycle regardless of which one loads first.

Every statement replays the matching Spark query's semantics exactly —
cross-engine-stable primitives only (md5/sha256, lexicographic mins,
integer bit ops), with explicit BIGINT/DOUBLE casts wherever DuckDB
would promote integer aggregates to HUGEINT (pandas float64), which the
driver's type-sensitive value hash would flag (round-6 dp_pack lesson).
"""

from __future__ import annotations

from __spark_entry__ import (
    COSINE_T,
    HAMMING_T,
    JACCARD_T,
    NAT_OFF,
    NUM_BANDS,
    NUM_PERM,
    ORDER_OFFSET,
    PART_OFFSET,
    REG_OFF,
    ROWS_PER_BAND,
    USER_OFF,
    _DOC_SHINGLES_SQL,
    _EVENTS_CHAIN_SQL,
    _NATION_EDGES_SQL,
    _USER_CYCLES_SQL,
)

#: brute-force cosine top-5 for queries vec_id < 10 — shared by the exact
#: ANN query and the exact-mode degenerations of the LSH / IVF paths
_ANN_EXACT_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(q.v, c.v) AS sim
        FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank
    FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rk
        FROM scored
    ) WHERE rk <= 5
"""


#: banded sign-LSH geometry for embedding near-dup (must mirror the
#: defaults of graphframes_spark.datapipe.embedding_cosine_pairs)
COSINE_PLANES_PER_BAND = 4
COSINE_BANDS = 8


def _lcg_plane_sql(pexpr: str, dexpr: str) -> str:
    """SQL for one plane component of the engine-portable sign-LSH scheme
    (datapipe/dedup.py ``_plane_component``): 3-round Lehmer LCG seeded
    from (plane, dimension), all-int32-safe arithmetic."""
    h = f"((CAST({pexpr} AS BIGINT)*131 + CAST({dexpr} AS BIGINT) + 1) % 65521)"
    for _ in range(3):
        h = f"(({h} * 17364 + 575) % 65521)"
    return f"({h} % 2001 - 1000)"


def _embedding_banded_oracle_sql() -> str:
    """Replicates the banded hyperplane-LSH candidate generation
    bit-for-bit (datapipe/dedup.py banded_hyperplane_sketches): the same
    fixed-point quantization (floor(x*4096) — exact double scaling), the
    same 3-round Lehmer LCG plane components (all-int32-safe arithmetic,
    identical in DuckDB), and order-independent integer dot products, so
    the candidate set — not just the final filter — is hash-verified."""

    w = _lcg_plane_sql

    dots = [
        "list_sum(list_transform(range(1, len(q)+1), d -> q[d] * "
        + w(f"(band*{COSINE_PLANES_PER_BAND} + {j})", "d-1")
        + "))"
        for j in range(COSINE_PLANES_PER_BAND)
    ]
    sketch = " + ".join(
        f"(CASE WHEN ({dots[j]}) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(COSINE_PLANES_PER_BAND)
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS q
            FROM embeddings
        ),
        b AS (
            SELECT vec_id, v, CAST(t.range AS BIGINT) AS band, {sketch} AS sketch
            FROM e CROSS JOIN range({COSINE_BANDS}) t
        )
        SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM b a JOIN b c
          ON a.band = c.band AND a.sketch = c.sketch AND a.vec_id < c.vec_id
        WHERE list_cosine_similarity(a.v, c.v) >= {COSINE_T}
    """


def _lsh_topk_oracle_sql() -> str:
    """Replays the APPROXIMATE hyperplane-LSH top-k path exactly (round 8
    — previously rows-only): since hyperplane_sketch became the
    single-band case of the portable LCG scheme, the oracle re-derives
    each vector's 4-plane sign bucket bit-for-bit, joins on it, and
    reranks by exact cosine with the same neighbor-id tiebreak — so the
    bucket recall pattern itself (which neighbors are missing vs brute
    force) is part of the verified output."""
    dots = [
        "list_sum(list_transform(range(1, len(q)+1), d -> q[d] * "
        + _lcg_plane_sql(str(j), "d-1")
        + "))"
        for j in range(4)
    ]
    sketch = " + ".join(
        f"(CASE WHEN ({dots[j]}) > 0 THEN {1 << j} ELSE 0 END)" for j in range(4)
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS q
            FROM embeddings
        ),
        s AS (SELECT vec_id, v, {sketch} AS sketch FROM e),
        scored AS (
            SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_cosine_similarity(a.v, c.v) AS sim
            FROM s a JOIN s c ON a.sketch = c.sketch AND a.vec_id <> c.vec_id
            WHERE a.vec_id < 10
        )
        SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank
        FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= 5
    """


def _minhash_oracle_sql() -> str:
    """Replicates the MinHash-LSH pipeline bit-for-bit: same md5-based
    double-hash permutations ((h1 + p*h2) & (2^48-1) over the two md5
    halves), same banding, same Jaccard verify, components via recursive
    closure."""
    mask = (1 << 48) - 1
    sig_items = ",\n           ".join(
        "list_min(list_transform(sh, s -> "
        f"((('0x' || substr(md5(s), 1, 12))::BIGINT "
        f"+ {p} * ('0x' || substr(md5(s), 13, 12))::BIGINT) & {mask})))"
        for p in range(NUM_PERM)
    )
    band_items = ",\n           ".join(
        "md5("
        + " || '|' || ".join(
            f"sig[{b * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND)
        )
        + f") AS b{b}"
        for b in range(NUM_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b{b} AS bhash FROM bands" for b in range(NUM_BANDS)
    )
    return f"""
        WITH sh AS ({_DOC_SHINGLES_SQL}),
        sigs AS (SELECT doc_id, sh, [{sig_items}] AS sig FROM sh),
        bands AS (SELECT doc_id, sh, {band_items} FROM sigs),
        posting AS ({band_rows}),
        cands AS (
            SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
            FROM posting a JOIN posting b
              ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT c.ia, c.ib
            FROM cands c
            JOIN sh sa ON sa.doc_id = c.ia
            JOIN sh sb ON sb.doc_id = c.ib
            WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
                  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
                  >= {JACCARD_T}
        ),
        sym AS (
            SELECT ia AS a, ib AS b FROM verified
            UNION ALL SELECT ib, ia FROM verified
        ),
        closure AS (
            WITH RECURSIVE r(id, comp) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT s.b, r.comp FROM r JOIN sym s ON s.a = r.id
            )
            SELECT id, min(comp) AS component FROM r GROUP BY id
        )
        SELECT id AS doc_id, component FROM closure
    """


def _simhash_oracle_sql() -> str:
    """Brute-force replay of the DEFAULT 96-bit SimHash (dedup.py
    simhash_pairs, num_bits=96 since round 9): two 48-bit signature words
    from md5 hex chars [1,12] and [13,24], full 96-bit hamming — the
    banding is pigeonhole-lossless so Spark's bucketed join must equal
    this all-pairs answer exactly."""
    sums = ",\n               ".join(
        f"sum(CASE WHEN (hv{b // 48} >> {b % 48}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(96)
    )
    packed = [
        " + ".join(
            f"(CASE WHEN s{w * 48 + i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
            for i in range(48)
        )
        for w in range(2)
    ]
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(list_filter(
                       string_split_regex(lower(text), '\\s+'), x -> len(x) > 0))) AS tok
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 12))::BIGINT AS hv0,
                   ('0x' || substr(md5(tok), 13, 12))::BIGINT AS hv1
            FROM toks
        ),
        sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
        sim AS (SELECT doc_id, {packed[0]} AS sim0, {packed[1]} AS sim1 FROM sums)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim0, b.sim0)) + bit_count(xor(a.sim1, b.sim1)) <= {HAMMING_T}
    """


_QUALITY_TOKENS_SQL = """
    SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> len(x) > 0) AS t
    FROM documents
"""

_EN_STOP = "['the','a','of','and','to','in','is','that','it','for']"
_DE_STOP = "['der','die','das','und','ist','nicht','ein','mit','auf','zu']"
_FR_STOP = "['le','la','les','et','est','une','dans','pour','que','des']"
_ES_STOP = "['el','la','los','y','es','una','en','por','que','con']"


def _hash2vec_literal_rows() -> str:
    """(token, feature-index, sign) literals for nation keys 0..24 under
    hash2vec's blake2b index/sign hashing (embeddings.py:87-91) with
    index_seed=0, sign_seed=1, dim=8 — precomputed because DuckDB cannot
    evaluate blake2b; everything else about the oracle replays in SQL."""
    import hashlib

    def h(token: str, salt: int) -> int:
        return int.from_bytes(
            hashlib.blake2b(f"{salt}:{token}".encode(), digest_size=8).digest(),
            "big",
        )

    return ", ".join(
        f"('{t}', {h(str(t), 0) % 8}, {1.0 if h(str(t), 1) & 1 else -1.0})"
        for t in range(25)
    )


def _random_walks_oracle_sql() -> str:
    """Replays q_random_walks' md5-draw walk engine trace-for-trace.

    Mirrors rw.py exactly: the per-batch iteration seeds come from
    ``random.Random(42)`` and the per-step seeds from
    ``random.Random(iter_seed)`` (deterministic Python, embedded here as
    literals); neighbors are re-sampled per batch ranked by
    ``md5(concat_ws(chr(31), src, dst, iter_seed))`` with dst tiebreak;
    each step restarts when the 'r'-salted md5 unit draw of
    (walk_id, step_seed) is < 0.1, else hops to the neighbor at index
    ``('n'-salted draw) % degree``. The emitted walk is
    [start, c1..c5]: batch 1 contributes steps 1-3, batch 2 steps 4-5
    (its third step advances the cursor but is never emitted)."""
    import random

    rng = random.Random(42)
    it1 = rng.getrandbits(63)
    it2 = rng.getrandbits(63)
    b1 = random.Random(it1)
    b2 = random.Random(it2)
    s11, s12, s13 = (b1.getrandbits(63) for _ in range(3))
    s21, s22, _ = (b2.getrandbits(63) for _ in range(3))

    def unit(seed: int, salt: str) -> str:
        return (
            "(('0x' || substr(md5(concat_ws(chr(31), w.walk_id, "
            f"'{seed}', '{salt}')), 1, 12))::BIGINT)"
        )

    def nbr_table(name: str, seed: int) -> str:
        return f"""
            {name} AS (
                SELECT src, dst,
                       row_number() OVER (
                           PARTITION BY src
                           ORDER BY md5(concat_ws(chr(31), CAST(src AS VARCHAR),
                                                  CAST(dst AS VARCHAR), '{seed}')), dst
                       ) AS rn,
                       count(*) OVER (PARTITION BY src) AS deg
                FROM adj
            )"""

    blocks = [
        f"adj AS (SELECT DISTINCT src, dst FROM ({_NATION_EDGES_SQL}))",
        nbr_table("nb1", it1),
        nbr_table("nb2", it2),
        """
            w0 AS (
                SELECT CAST(n_nationkey AS VARCHAR) || '#' || k.k AS walk_id,
                       CAST(n_nationkey AS BIGINT) AS start,
                       CAST(n_nationkey AS BIGINT) AS curr,
                       CAST(n_nationkey AS VARCHAR) AS path
                FROM nation, (VALUES ('1'), ('2')) k(k)
            )""",
    ]
    prev = "w0"
    for i, (seed, nb) in enumerate(
        [(s11, "nb1"), (s12, "nb1"), (s13, "nb1"), (s21, "nb2"), (s22, "nb2")], 1
    ):
        restart = f"{unit(seed, 'r')} / 281474976710656.0 < 0.1"
        nxt = f"CASE WHEN {restart} THEN w.start ELSE n.dst END"
        blocks.append(f"""
            w{i} AS (
                SELECT w.walk_id, w.start,
                       {nxt} AS curr,
                       w.path || ' ' || CAST({nxt} AS VARCHAR) AS path
                FROM {prev} w JOIN {nb} n
                  ON n.src = w.curr
                 AND n.rn = CASE WHEN {restart} THEN 1
                                 ELSE ({unit(seed, 'n')} % n.deg) + 1 END
            )""")
        prev = f"w{i}"
    return (
        "WITH " + ",".join(blocks) + f"\nSELECT walk_id, path AS walk FROM {prev}"
    )


def _louvain_rounds_sql(
    sfx: str, adj: str, kc: str, asg0: str, n_rounds: int
) -> tuple[str, str]:
    """Unrolled synchronized local-moving rounds for the Louvain oracle.

    Emits CTE text replaying lib/louvain.py::_local_moving round-for-round
    on a prepared level (adjacency ``adj``[u,v,w], completed degrees
    ``kc``[id,k], initial assignment ``asg0``[id,comm]):
    per round — neighbor-community attachment, candidate set (own ∪
    neighbors), Σ_tot, the gain ``k_uc − k_u·tot_excl/(2m)`` with the
    engine's exact operation order, argmax with stay-then-min-id
    tie-breaks, and the alternating Sotera direction gate (even rounds
    move down, odd rounds up). The engine's break-on-no-moves is replayed
    by a scalar freeze flag: once a round moves nothing, all later rounds
    copy the assignment through unchanged. Every quantity is an
    integer-valued double (< 2^53), so sums are order-independent and the
    single gain division rounds identically in DuckDB and Spark — the
    replay is bit-exact, not approximate.

    Returns (cte_text, final_assignment_name)."""
    ctes: list[str] = [
        f"frz{sfx}0 AS MATERIALIZED (SELECT FALSE AS f)",
    ]
    for r in range(n_rounds):
        prev = f"{asg0}" if r == 0 else f"asg{sfx}{r}"
        gate = "<" if r % 2 == 0 else ">"
        ctes.append(f"""
            nbr{sfx}{r} AS MATERIALIZED (
                SELECT a.u, s.comm AS c, sum(a.w) AS k_uc
                FROM {adj} a JOIN {prev} s ON s.id = a.v
                GROUP BY a.u, s.comm
            ),
            cand{sfx}{r} AS MATERIALIZED (
                SELECT u, c, max(k_uc) AS k_uc FROM (
                    SELECT u, c, k_uc FROM nbr{sfx}{r}
                    UNION ALL
                    SELECT id AS u, comm AS c, 0.0 AS k_uc FROM {prev}
                ) GROUP BY u, c
            ),
            sig{sfx}{r} AS MATERIALIZED (
                SELECT s.comm AS c, sum(k.k) AS tot
                FROM {kc} k JOIN {prev} s ON s.id = k.id
                GROUP BY s.comm
            ),
            sc{sfx}{r} AS MATERIALIZED (
                SELECT cd.u, cd.c, own.comm AS own,
                       cd.k_uc - ku.k * (sg.tot
                           - CASE WHEN cd.c = own.comm THEN ku.k
                                  ELSE 0.0 END) / (SELECT two_m FROM mval)
                           AS gain
                FROM cand{sfx}{r} cd
                JOIN sig{sfx}{r} sg ON sg.c = cd.c
                JOIN {kc} ku ON ku.id = cd.u
                JOIN {prev} own ON own.id = cd.u
            ),
            best{sfx}{r} AS MATERIALIZED (
                SELECT u, own, c FROM (
                    SELECT u, own, c, row_number() OVER (
                        PARTITION BY u
                        ORDER BY gain DESC,
                                 CASE WHEN c = own THEN 0 ELSE 1 END,
                                 c
                    ) AS rn FROM sc{sfx}{r}
                ) WHERE rn = 1
            ),
            dec{sfx}{r} AS MATERIALIZED (
                SELECT u, own,
                       CASE WHEN c {gate} own THEN c ELSE own END AS newc
                FROM best{sfx}{r}
            ),
            mv{sfx}{r} AS MATERIALIZED (
                SELECT count(*) FILTER (WHERE newc != own) AS n
                FROM dec{sfx}{r}
            ),
            asg{sfx}{r + 1} AS MATERIALIZED (
                SELECT u AS id,
                       CASE WHEN (SELECT f FROM frz{sfx}{r}) THEN own
                            ELSE newc END AS comm
                FROM dec{sfx}{r}
            ),
            frz{sfx}{r + 1} AS MATERIALIZED (
                SELECT (SELECT f FROM frz{sfx}{r})
                       OR (SELECT n FROM mv{sfx}{r}) = 0 AS f
            )""")
    return ",".join(ctes), f"asg{sfx}{n_rounds}"


def _louvain_copurchase_oracle_sql() -> str:
    """Full-output replay of q_louvain_copurchase (2 passes x 6 rounds).

    The co-purchase weights are distinct-order counts, so every degree,
    Σ_tot, and gain the engine computes is an integer-valued double —
    IEEE-exact and aggregation-order-independent — which makes the
    contraction hierarchy replayable: pass 1 local moving on the part
    graph, contraction to supervertices, pass 2 local moving on the
    contracted graph (gated on pass 1 having moved and shrunk, exactly
    like louvain()'s break conditions), then min-member-id stable
    relabel and the per-community size rollup."""
    r1, asg1_final = _louvain_rounds_sql("a", "adj1", "k1c", "asg1_0", 6)
    r2, asg2_final = _louvain_rounds_sql("b", "adj2", "k2c", "asg2_0", 6)
    return f"""
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_partkey, l_orderkey FROM lineitem
        ),
        ce1 AS MATERIALIZED (
            SELECT a.l_partkey AS a, b.l_partkey AS b,
                   CAST(count(*) AS DOUBLE) AS w
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        verts1 AS MATERIALIZED (SELECT p_partkey AS id FROM part),
        mval AS MATERIALIZED (SELECT 2.0 * sum(w) AS two_m FROM ce1),
        k1 AS MATERIALIZED (
            SELECT id, sum(w) AS k FROM (
                SELECT a AS id, w FROM ce1
                UNION ALL SELECT b AS id, w FROM ce1
            ) GROUP BY id
        ),
        k1c AS MATERIALIZED (
            SELECT v.id, coalesce(k1.k, 0.0) AS k
            FROM verts1 v LEFT JOIN k1 ON k1.id = v.id
        ),
        adj1 AS MATERIALIZED (
            SELECT a AS u, b AS v, w FROM ce1 WHERE a != b
            UNION ALL
            SELECT b AS u, a AS v, w FROM ce1 WHERE a != b
        ),
        asg1_0 AS MATERIALIZED (SELECT id, id AS comm FROM verts1),
        {r1},
        p1any AS MATERIALIZED (SELECT (SELECT n FROM mva0) > 0 AS p),
        ce2 AS MATERIALIZED (
            SELECT least(x.comm, y.comm) AS a,
                   greatest(x.comm, y.comm) AS b, sum(e.w) AS w
            FROM ce1 e
            JOIN {asg1_final} x ON x.id = e.a
            JOIN {asg1_final} y ON y.id = e.b
            GROUP BY 1, 2
        ),
        verts2 AS MATERIALIZED (SELECT DISTINCT comm AS id FROM {asg1_final}),
        p2run AS MATERIALIZED (
            SELECT (SELECT p FROM p1any)
                   AND (SELECT count(*) FROM verts2)
                       < (SELECT count(*) FROM verts1) AS p
        ),
        k2 AS MATERIALIZED (
            SELECT id, sum(w) AS k FROM (
                SELECT a AS id, w FROM ce2
                UNION ALL SELECT b AS id, w FROM ce2
            ) GROUP BY id
        ),
        k2c AS MATERIALIZED (
            SELECT v.id, coalesce(k2.k, 0.0) AS k
            FROM verts2 v LEFT JOIN k2 ON k2.id = v.id
        ),
        adj2 AS MATERIALIZED (
            SELECT a AS u, b AS v, w FROM ce2 WHERE a != b
            UNION ALL
            SELECT b AS u, a AS v, w FROM ce2 WHERE a != b
        ),
        asg2_0 AS MATERIALIZED (SELECT id, id AS comm FROM verts2),
        {r2},
        total2 AS MATERIALIZED (
            SELECT t.id,
                   CASE WHEN (SELECT p FROM p2run) THEN a2.comm
                        ELSE t.comm END AS comm
            FROM {asg1_final} t JOIN {asg2_final} a2 ON a2.id = t.comm
        ),
        stable AS MATERIALIZED (
            SELECT comm AS sv, min(id) AS community
            FROM total2 GROUP BY comm
        ),
        final AS MATERIALIZED (
            SELECT t.id, s.community
            FROM total2 t JOIN stable s ON s.sv = t.comm
        )
        SELECT community, count(*) AS size
        FROM final GROUP BY community
        ORDER BY size DESC, community
    """


def oracle_sql() -> dict[str, str]:
    return {
        "random_walks": _random_walks_oracle_sql(),
        "louvain_copurchase": _louvain_copurchase_oracle_sql(),
        "out_degrees": """
            SELECT o_custkey AS id, CAST(count(*) AS INTEGER) AS out_degree
            FROM orders GROUP BY o_custkey
        """,
        "in_degrees": f"""
            SELECT o_orderkey + {ORDER_OFFSET} AS id, CAST(count(*) AS INTEGER) AS in_degree
            FROM orders GROUP BY o_orderkey
        """,
        "degrees": f"""
            WITH adj AS ({_NATION_EDGES_SQL}),
            ends AS (SELECT src AS id FROM adj UNION ALL SELECT dst FROM adj)
            SELECT id, CAST(count(*) AS INTEGER) AS degree FROM ends GROUP BY id
        """,
        "triplets": f"""
            SELECT src AS src_id, dst AS dst_id FROM ({_NATION_EDGES_SQL})
        """,
        "motif_two_hop": f"""
            WITH adj AS ({_NATION_EDGES_SQL})
            SELECT e1.src AS a_id, e1.dst AS b_id, e2.dst AS c_id
            FROM adj e1 JOIN adj e2 ON e1.dst = e2.src
        """,
        "motif_mutual": f"""
            WITH adj AS ({_NATION_EDGES_SQL})
            SELECT e1.src AS a_id, e1.dst AS b_id
            FROM adj e1 JOIN adj e2 ON e1.src = e2.dst AND e1.dst = e2.src
            WHERE e1.src < e1.dst
        """,
        "motif_negation": f"""
            WITH chain AS ({_EVENTS_CHAIN_SQL})
            SELECT e1.src AS a_id, e1.dst AS b_id
            FROM chain e1
            WHERE NOT EXISTS (
                SELECT 1 FROM chain e2 WHERE e2.src = e1.dst AND e2.dst = e1.src
            )
        """,
        "motif_var_length": f"""
            WITH chain AS ({_EVENTS_CHAIN_SQL})
            SELECT src AS a_id, dst AS b_id, 1 AS hop FROM chain
            UNION ALL
            SELECT e1.src, e2.dst, 2
            FROM chain e1 JOIN chain e2 ON e1.dst = e2.src
        """,
        "filter_vertices": f"""
            SELECT src, dst FROM ({_NATION_EDGES_SQL})
            WHERE src % 2 = 0 AND dst % 2 = 0
        """,
        "type_out_degree": f"""
            SELECT o_custkey AS id,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS INTEGER) AS deg_f,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS INTEGER) AS deg_o,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS INTEGER) AS deg_p
            FROM orders GROUP BY o_custkey
        """,
        "triangle_count": f"""
            WITH adj AS ({_NATION_EDGES_SQL}),
            canon AS (
                SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
                FROM adj WHERE src <> dst
            ),
            tri AS (
                SELECT e1.s AS a, e1.d AS b, e2.d AS c
                FROM canon e1
                JOIN canon e2 ON e2.s = e1.d
                JOIN canon e3 ON e3.s = e1.s AND e3.d = e2.d
            ),
            per_vertex AS (
                SELECT a AS id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            )
            SELECT n.n_nationkey AS id,
                   CAST(coalesce(t.cnt, 0) AS BIGINT) AS n_triangles
            FROM nation n
            LEFT JOIN (SELECT id, count(*) AS cnt FROM per_vertex GROUP BY id) t
              ON n.n_nationkey = t.id
        """,
        "connected_components": f"""
            SELECT c_custkey AS id, c_custkey AS component FROM customer
            UNION ALL
            SELECT o_orderkey + {ORDER_OFFSET}, o_custkey FROM orders
        """,
        # the chained customer-order graph has the same components, and a
        # broadcast hub cutoff must not change the assignment
        "cc_skew_broadcast": f"""
            SELECT c_custkey AS id, c_custkey AS component FROM customer
            UNION ALL
            SELECT o_orderkey + {ORDER_OFFSET}, o_custkey FROM orders
        """,
        # incremental delta-update must equal the from-scratch assignment
        "cc_incremental": f"""
            SELECT c_custkey AS id, c_custkey AS component FROM customer
            UNION ALL
            SELECT o_orderkey + {ORDER_OFFSET}, o_custkey FROM orders
        """,
        # HyperBall on the per-user chain: reach(v,t) = min(t, tail)+1,
        # emitted for t = 1..min(4, max tail + 1) — the engine's early
        # stop replayed via the t <= t_break filter. Sketches stay in
        # coupon (exact) mode (balls <= 5), so estimates are exact.
        "hyperball": """
            WITH seq AS (
                SELECT event_id,
                       count(*) OVER (PARTITION BY user_id)
                         - row_number() OVER (
                               PARTITION BY user_id ORDER BY ts, event_id
                           ) AS tail
                FROM events
            ),
            tb AS (SELECT least(4, max(tail) + 1) AS t_break FROM seq)
            SELECT s.event_id AS id, CAST(t.t AS INT) AS hops,
                   CAST(least(t.t, s.tail) + 1 AS BIGINT) AS reach
            FROM seq s
            CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS t) t
            WHERE t.t <= (SELECT t_break FROM tb)
        """,
        # effective diameter of the chain: N(t) = Σ min(t, tail)+1
        # over t = 1..min(8, max tail + 1); smallest t with
        # N(t) >= 0.6·max_t N(t) (q=0.6 lands mid-curve at every SF)
        "effective_diameter": """
            WITH seq AS (
                SELECT count(*) OVER (PARTITION BY user_id)
                         - row_number() OVER (
                               PARTITION BY user_id ORDER BY ts, event_id
                           ) AS tail
                FROM events
            ),
            tb AS (SELECT least(8, max(tail) + 1) AS t_break FROM seq),
            curve AS (
                SELECT t.t AS hops,
                       sum(least(t.t, s.tail) + 1) AS n_t
                FROM seq s
                CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS t) t
                WHERE t.t <= (SELECT t_break FROM tb)
                GROUP BY t.t
            ),
            mx AS (SELECT max(n_t) AS n_max FROM curve)
            SELECT CAST(min(hops) AS INT) AS effective_diameter,
                   CAST(max(mx.n_max) AS BIGINT) AS neighborhood_pairs
            FROM curve, mx WHERE curve.n_t >= 0.6 * mx.n_max
        """,
        "shortest_paths": """
            WITH seq AS (
                SELECT event_id, user_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ),
            mu AS (SELECT min(user_id) AS u FROM events),
            chainu AS (SELECT event_id, rn FROM seq, mu WHERE user_id = mu.u),
            lm AS (
                SELECT event_id AS lid, rn AS lrn FROM chainu
                WHERE rn = least(21, (SELECT max(rn) FROM chainu))
            )
            SELECT c.event_id AS id, lm.lid AS landmark,
                   CAST(lm.lrn - c.rn AS INTEGER) AS distance
            FROM chainu c, lm
            WHERE c.rn <= lm.lrn
        """,
        "label_propagation": """
            WITH seq AS (
                SELECT event_id, user_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                       lag(event_id, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lag3,
                       first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS head
                FROM events
            )
            SELECT event_id AS id,
                   CASE WHEN rn > 3 THEN lag3 ELSE head END AS label
            FROM seq
        """,
        "pagerank": f"""
            WITH n AS (
                SELECT (SELECT count(*) FROM customer) + (SELECT count(*) FROM orders) AS n
            ),
            deg AS (SELECT o_custkey, count(*) AS d FROM orders GROUP BY o_custkey)
            SELECT c_custkey AS id, round(0.15 / n.n, 10) AS pagerank
            FROM customer, n
            UNION ALL
            SELECT o.o_orderkey + {ORDER_OFFSET},
                   round(0.15 / n.n + 0.85 * ((0.15 / n.n) / deg.d), 10)
            FROM orders o, n
            JOIN deg ON deg.o_custkey = o.o_custkey
        """,
        "pagerank_personalized": f"""
            WITH s AS (SELECT min(c_custkey) AS k FROM customer),
            deg AS (SELECT o_custkey, count(*) AS d FROM orders GROUP BY o_custkey)
            SELECT c_custkey AS id,
                   round(CASE WHEN c_custkey = (SELECT k FROM s) THEN 0.15 ELSE 0.0 END,
                         10) AS pagerank
            FROM customer
            UNION ALL
            SELECT o.o_orderkey + {ORDER_OFFSET},
                   round(CASE WHEN o.o_custkey = (SELECT k FROM s)
                         THEN 0.85 * (0.15 / deg.d) ELSE 0.0 END, 10)
            FROM orders o JOIN deg ON deg.o_custkey = o.o_custkey
        """,
        "pagerank_tol": """
            SELECT n_nationkey AS id,
                   round(1.0 / (SELECT count(*) FROM nation), 10) AS pagerank
            FROM nation
        """,
        "aggregate_messages": """
            SELECT o_custkey AS id,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
            FROM orders GROUP BY o_custkey
        """,
        "bfs": """
            WITH seq AS (
                SELECT event_id, user_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ),
            mu AS (SELECT min(user_id) AS u FROM events),
            chainu AS (SELECT event_id, rn FROM seq, mu WHERE user_id = mu.u)
            SELECT r1.event_id AS from_id, r2.event_id AS v1_id,
                   r3.event_id AS v2_id, r4.event_id AS to_id
            FROM chainu r1, chainu r2, chainu r3, chainu r4
            WHERE r1.rn = 1 AND r2.rn = 2 AND r3.rn = 3 AND r4.rn = 4
        """,
        # ------------------------------------------- round 2: graph tier
        "filter_edges": f"""
            SELECT src, dst FROM ({_NATION_EDGES_SQL}) WHERE src < dst
        """,
        "drop_isolated": f"""
            SELECT DISTINCT o_custkey AS id FROM orders WHERE o_totalprice > 200000
            UNION ALL
            SELECT o_orderkey + {ORDER_OFFSET} FROM orders WHERE o_totalprice > 200000
        """,
        "as_undirected_degrees": f"""
            WITH chain AS ({_EVENTS_CHAIN_SQL}),
            ends AS (SELECT src AS id FROM chain UNION ALL SELECT dst FROM chain)
            SELECT id, CAST(count(*) AS INTEGER) AS degree FROM ends GROUP BY id
        """,
        "as_reversed": f"""
            SELECT o_orderkey + {ORDER_OFFSET} AS id, CAST(1 AS INTEGER) AS n
            FROM orders
        """,
        "type_in_degree": f"""
            SELECT o_custkey AS id,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS INTEGER) AS deg_f,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS INTEGER) AS deg_o,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS INTEGER) AS deg_p
            FROM orders GROUP BY o_custkey
        """,
        "type_degree": f"""
            WITH ends AS (
                SELECT o_custkey AS id, o_orderstatus AS st FROM orders
                UNION ALL
                SELECT o_orderkey + {ORDER_OFFSET}, o_orderstatus FROM orders
            )
            SELECT id,
                   CAST(count(*) FILTER (WHERE st = 'F') AS INTEGER) AS deg_f,
                   CAST(count(*) FILTER (WHERE st = 'O') AS INTEGER) AS deg_o,
                   CAST(count(*) FILTER (WHERE st = 'P') AS INTEGER) AS deg_p
            FROM ends GROUP BY id
        """,
        "ppr": f"""
            WITH srcs AS (
                SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rk
                FROM customer ORDER BY c_custkey LIMIT 2
            ),
            s1 AS (SELECT c_custkey AS k FROM srcs WHERE rk = 1),
            s2 AS (SELECT c_custkey AS k FROM srcs WHERE rk = 2),
            deg AS (SELECT o_custkey, count(*) AS d FROM orders GROUP BY o_custkey)
            SELECT c_custkey AS id,
                   round(CASE WHEN c_custkey = (SELECT k FROM s1) THEN 0.15 ELSE 0.0 END, 10) AS ppr1,
                   round(CASE WHEN c_custkey = (SELECT k FROM s2) THEN 0.15 ELSE 0.0 END, 10) AS ppr2
            FROM customer
            UNION ALL
            SELECT o.o_orderkey + {ORDER_OFFSET},
                   round(CASE WHEN o.o_custkey = (SELECT k FROM s1)
                         THEN 0.85 * (0.15 / deg.d) ELSE 0.0 END, 10),
                   round(CASE WHEN o.o_custkey = (SELECT k FROM s2)
                         THEN 0.85 * (0.15 / deg.d) ELSE 0.0 END, 10)
            FROM orders o JOIN deg ON deg.o_custkey = o.o_custkey
        """,
        "pregel_indegree": f"""
            WITH adj AS ({_NATION_EDGES_SQL})
            SELECT n.n_nationkey AS id,
                   CAST(coalesce(t.cnt, 0) AS BIGINT) AS cnt
            FROM nation n
            LEFT JOIN (SELECT dst, count(*) AS cnt FROM adj GROUP BY dst) t
              ON n.n_nationkey = t.dst
        """,
        "kcore": """
            SELECT n.n_nationkey AS id,
                   CAST((SELECT count(*) FROM nation n2
                         WHERE n2.n_regionkey = n.n_regionkey) - 1 AS INTEGER) AS kcore
            FROM nation n
        """,
        "scc": f"""
            WITH ring AS ({_USER_CYCLES_SQL})
            SELECT event_id AS id,
                   min(event_id) OVER (PARTITION BY user_id) AS component
            FROM ring
        """,
        "cycles": f"""
            WITH ring AS ({_USER_CYCLES_SQL}),
            mins AS (
                SELECT user_id, min(event_id) AS m,
                       min(rn) FILTER (WHERE event_id = (
                           SELECT min(event_id) FROM ring r2 WHERE r2.user_id = ring.user_id
                       )) AS mrn
                FROM ring GROUP BY user_id
            ),
            rotated AS (
                SELECT r.user_id, mins.m, r.event_id,
                       (r.rn - mins.mrn + r.n) % r.n AS pos
                FROM ring r JOIN mins ON r.user_id = mins.user_id
            )
            SELECT m AS cycle_id, CAST(pos AS INTEGER) AS pos, event_id FROM rotated
            UNION ALL
            SELECT m, CAST(max(pos) + 1 AS INTEGER), m FROM rotated GROUP BY user_id, m
        """,
        "lpa_clique": """
            SELECT n.n_nationkey AS id,
                   (SELECT min(n2.n_nationkey) FROM nation n2
                    WHERE n2.n_regionkey = n.n_regionkey) AS label
            FROM nation n
        """,
        "cc_clique": """
            SELECT n.n_nationkey AS id,
                   (SELECT min(n2.n_nationkey) FROM nation n2
                    WHERE n2.n_regionkey = n.n_regionkey) AS component
            FROM nation n
        """,
        "cc_string_labels": """
            SELECT 'c' || c_custkey AS id, 'c' || c_custkey AS component FROM customer
            UNION ALL
            SELECT 'o' || o_orderkey, 'c' || o_custkey FROM orders
        """,
        # string-id incremental delta-update must equal the from-scratch
        # label-domain assignment (same closed form as cc_string_labels)
        "cc_incremental_string": """
            SELECT 'c' || c_custkey AS id, 'c' || c_custkey AS component FROM customer
            UNION ALL
            SELECT 'o' || o_orderkey, 'c' || o_custkey FROM orders
        """,
        "pagerank_clique": """
            SELECT n_nationkey AS id,
                   round(1.0 / (SELECT count(*) FROM nation), 10) AS pagerank
            FROM nation
        """,
        "triangle_count_approx": f"""
            WITH adj AS ({_NATION_EDGES_SQL}),
            canon AS (
                SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
                FROM adj WHERE src <> dst
            ),
            tri AS (
                SELECT e1.s AS a, e1.d AS b, e2.d AS c
                FROM canon e1
                JOIN canon e2 ON e2.s = e1.d
                JOIN canon e3 ON e3.s = e1.s AND e3.d = e2.d
            ),
            per_vertex AS (
                SELECT a AS id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            )
            SELECT n.n_nationkey AS id,
                   CAST(coalesce(t.cnt, 0) AS BIGINT) AS n_triangles
            FROM nation n
            LEFT JOIN (SELECT id, count(*) AS cnt FROM per_vertex GROUP BY id) t
              ON n.n_nationkey = t.id
        """,
        "aggregate_neighbors": f"""
            WITH adj AS ({_NATION_EDGES_SQL})
            SELECT e2.dst AS id, 2 AS hop, 2 AS n_hops
            FROM adj e1 JOIN adj e2 ON e1.dst = e2.src
            WHERE e1.src = 0
        """,
        "svdpp_norms": f"""
            WITH ends AS (
                SELECT o_custkey AS id FROM orders
                UNION ALL
                SELECT o_orderkey + {ORDER_OFFSET} FROM orders
            ),
            cnt AS (SELECT id, count(*) AS c FROM ends GROUP BY id)
            SELECT id, round(1.0 / sqrt(c), 8) AS norm FROM cnt
        """,
        "pg_unify": """
            SELECT 'suppliers' || sha256(CAST(s_suppkey AS VARCHAR)) AS id,
                   'suppliers' AS property_group
            FROM supplier
            UNION ALL
            SELECT 'nations' || sha256(CAST(n_nationkey AS VARCHAR)),
                   'nations'
            FROM nation
            UNION ALL
            SELECT 'suppliers' || sha256(CAST(s_suppkey AS VARCHAR)),
                   '_edge_src'
            FROM supplier
        """,
        "pg_projection": """
            SELECT a.s_suppkey AS s1, b.s_suppkey AS s2, 1.0 AS weight
            FROM supplier a JOIN supplier b
              ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
        """,
        # --------------------------------------- round 2: datapipe tier
        "dp_exact_dedup": """
            WITH g AS (
                SELECT lang, n_chars, min(doc_id) AS canonical_id,
                       count(*) AS group_size
                FROM documents GROUP BY lang, n_chars
            )
            SELECT d.doc_id, g.canonical_id, g.group_size
            FROM documents d JOIN g ON d.lang = g.lang AND d.n_chars = g.n_chars
        """,
        "dp_token_counts": f"""
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> len(x) > 0)) AS INTEGER) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text,
                            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens
            FROM documents
        """,
        "dp_quality": f"""
            WITH t AS ({_QUALITY_TOKENS_SQL}),
            m AS (
                SELECT doc_id, text, t,
                       len(t) AS n_tokens,
                       list_sum(list_transform(t, x -> len(x))) AS tok_chars,
                       len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct_chars,
                       len(list_filter(t, x -> list_contains({_EN_STOP}, x))) AS stop_hits
                FROM t
            )
            SELECT doc_id,
                   CAST(n_tokens AS INTEGER) AS n_tokens,
                   round(CASE WHEN n_tokens > 0
                         THEN tok_chars / CAST(n_tokens AS DOUBLE) ELSE 0.0 END, 6) AS avg_token_len,
                   round(CASE WHEN len(text) > 0
                         THEN punct_chars / CAST(len(text) AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio,
                   round(CASE WHEN n_tokens > 0
                         THEN stop_hits / CAST(n_tokens AS DOUBLE) ELSE 0.0 END, 6) AS stopword_ratio,
                   (n_tokens >= 5
                    AND tok_chars / CAST(n_tokens AS DOUBLE) >= 2.0
                    AND tok_chars / CAST(n_tokens AS DOUBLE) <= 15.0
                    AND punct_chars / CAST(len(text) AS DOUBLE) <= 0.3) AS keep
            FROM m
        """,
        "dp_language_id": f"""
            WITH t AS ({_QUALITY_TOKENS_SQL}),
            scored AS (
                SELECT doc_id,
                       len(list_intersect(list_distinct(t), {_EN_STOP})) AS h_en,
                       len(list_intersect(list_distinct(t), {_DE_STOP})) AS h_de,
                       len(list_intersect(list_distinct(t), {_FR_STOP})) AS h_fr,
                       len(list_intersect(list_distinct(t), {_ES_STOP})) AS h_es
                FROM t
            ),
            best AS (
                SELECT doc_id,
                       greatest(h_en, h_de, h_fr, h_es) AS hits,
                       CASE greatest(h_en, h_de, h_fr, h_es)
                            WHEN h_fr THEN 'fr'
                            WHEN h_es THEN 'es'
                            WHEN h_en THEN 'en'
                            WHEN h_de THEN 'de'
                       END AS lang
                FROM scored
            )
            SELECT doc_id,
                   CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
            FROM best
        """,
        "dp_fingerprint": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> len(x) > 0) AS t
                FROM documents
            ),
            sh AS (
                SELECT doc_id, t,
                       list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                      FOR i IN range(1, len(t) - 1)]) AS s
                FROM t
            )
            SELECT doc_id,
                   md5(array_to_string(t, ' ')) AS fp,
                   list_min(list_transform(s, x -> md5(x))) AS minfp
            FROM sh
        """,
        "dp_minhash_dedup": _minhash_oracle_sql(),
        "dp_ngram_pairs": f"""
            WITH sh AS ({_DOC_SHINGLES_SQL})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                  >= {JACCARD_T}
        """,
        "dp_repetition": """
            SELECT doc_id,
                   CAST(len(g) AS INTEGER) AS n_ngrams,
                   CAST(len(list_distinct(g)) AS INTEGER) AS n_distinct_ngrams,
                   round(CASE WHEN len(g) > 0
                              THEN 1.0 - len(list_distinct(g)) * 1.0 / len(g)
                              ELSE 0.0 END, 6) AS dup_frac
            FROM (
                SELECT doc_id,
                       [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS g
                FROM (
                    SELECT doc_id,
                           list_filter(string_split_regex(lower(text), '\\s+'),
                                       x -> len(x) > 0) AS t
                    FROM documents
                )
            )
        """,
        "dp_contamination": f"""
            WITH sh AS ({_DOC_SHINGLES_SQL})
            SELECT a.doc_id AS doc_id, b.doc_id AS ref_doc_id,
                   CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared
            FROM sh a JOIN sh b
              ON b.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) >= 2
        """,
        # forced-walk functional graph: 6-step successor chain closed form
        "random_walks_det": """
            WITH n AS (SELECT count(*) AS cnt FROM customer),
            s0 AS (
                SELECT CAST(c_custkey AS BIGINT) AS v0, cnt
                FROM customer CROSS JOIN n
            ),
            s1 AS (SELECT *, (v0 * 7 + 3) % cnt AS v1 FROM s0),
            s2 AS (SELECT *, (v1 * 7 + 3) % cnt AS v2 FROM s1),
            s3 AS (SELECT *, (v2 * 7 + 3) % cnt AS v3 FROM s2),
            s4 AS (SELECT *, (v3 * 7 + 3) % cnt AS v4 FROM s3),
            s5 AS (SELECT *, (v4 * 7 + 3) % cnt AS v5 FROM s4)
            SELECT CAST(v0 AS VARCHAR) || '#1' AS random_walk_uuid,
                   concat_ws(' ', v0, v1, v2, v3, v4, v5) AS walk
            FROM s5
        """,
        "node2vec_chain": """
            WITH seq AS (
                SELECT event_id,
                       lead(event_id, 1) OVER w AS n1,
                       lead(event_id, 2) OVER w AS n2,
                       lead(event_id, 3) OVER w AS n3,
                       lead(event_id, 4) OVER w AS n4,
                       lead(event_id, 5) OVER w AS n5
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id AS start,
                   1 AS walk_idx,
                   array_to_string(list_filter([event_id, n1, n2, n3, n4, n5],
                                               x -> x IS NOT NULL), ' ') AS walk,
                   CAST(len(list_filter([event_id, n1, n2, n3, n4, n5],
                                        x -> x IS NOT NULL)) AS INTEGER) AS walk_len
            FROM seq
            WHERE n1 IS NOT NULL
        """,
        "harmonic_centrality": """
            WITH seq AS (
                SELECT event_id, user_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ),
            mu AS (SELECT min(user_id) AS u FROM events),
            chainu AS (SELECT event_id, rn FROM seq, mu WHERE user_id = mu.u),
            lm AS (
                SELECT rn AS lrn FROM chainu
                WHERE rn = least(21, (SELECT max(rn) FROM chainu))
            )
            SELECT e.event_id AS id,
                   CAST(CASE WHEN c.rn IS NOT NULL AND c.rn < lm.lrn
                             THEN 1 ELSE 0 END AS INTEGER) AS n_reached,
                   CAST(CASE WHEN c.rn IS NOT NULL AND c.rn < lm.lrn
                             THEN lm.lrn - c.rn ELSE 0 END AS BIGINT) AS dist_sum,
                   CASE WHEN c.rn IS NOT NULL AND c.rn < lm.lrn
                        THEN round(1.0 / (lm.lrn - c.rn), 9) ELSE 0.0 END AS harmonic,
                   CASE WHEN c.rn IS NOT NULL AND c.rn < lm.lrn
                        THEN round(1.0 / (lm.lrn - c.rn), 9) ELSE 0.0 END AS closeness
            FROM events e
            LEFT JOIN chainu c ON e.event_id = c.event_id
            CROSS JOIN lm
        """,
        "dp_chunking": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> len(x) > 0) AS toks
                FROM documents
            ), s AS (
                SELECT doc_id, toks,
                       unnest(generate_series(0, greatest(len(toks) - 17, 0), 48)) AS i
                FROM t WHERE len(toks) > 0
            )
            SELECT doc_id,
                   CAST(i // 48 AS INTEGER) AS chunk_idx,
                   CAST(len(toks[i + 1 : i + 64]) AS INTEGER) AS n_chunk_tokens,
                   array_to_string(toks[i + 1 : i + 64], ' ') AS chunk_text
            FROM s
        """,
        "dp_sessionize": """
            WITH b AS (
                SELECT user_id, ts,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                                (PARTITION BY user_id ORDER BY ts) > 3600
                            THEN 1 ELSE 0 END AS brk
                FROM events
            ), s AS (
                SELECT user_id, ts,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sess
                FROM b
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sess
        """,
        # degrees excludes edge-less vertices, so only order-bearing
        # customers and the orders themselves appear
        "degree_distribution": f"""
            WITH d AS (
                SELECT o_custkey AS id, count(*) AS degree
                FROM orders GROUP BY o_custkey
                UNION ALL
                SELECT o_orderkey + {ORDER_OFFSET} AS id, 1 AS degree
                FROM orders
            )
            SELECT degree, count(*) AS n_vertices FROM d GROUP BY degree
        """,
        # 5-cliques: every within-region edge has truss support 3, the
        # k=4 peel drops nothing, so the fixpoint is closed-form
        "ktruss": """
            SELECT a.n_nationkey AS src, b.n_nationkey AS dst,
                   CAST(3 AS BIGINT) AS support
            FROM nation a JOIN nation b
              ON a.n_regionkey = b.n_regionkey
             AND a.n_nationkey < b.n_nationkey
        """,
        # lexicographic order on lowercase md5 hex IS numeric order, so
        # the 0.5 fraction is the literal '8' || 31 zeros threshold
        "sample_subgraph": f"""
            WITH v AS (
                SELECT c_custkey AS id FROM customer
                UNION ALL
                SELECT o_orderkey + {ORDER_OFFSET} AS id FROM orders
            ),
            keep AS (
                SELECT id FROM v
                WHERE md5(concat_ws(chr(31), 'r4', CAST(id AS VARCHAR)))
                      < '80000000000000000000000000000000'
            ),
            e AS (
                SELECT o_custkey AS src, o_orderkey + {ORDER_OFFSET} AS dst
                FROM orders
            )
            SELECT e.src AS id, count(*) AS out_degree
            FROM e
            JOIN keep ks ON e.src = ks.id
            JOIN keep kd ON e.dst = kd.id
            GROUP BY e.src
        """,
        # triangles enumerated once as x<y<z over the canonical edge set;
        # coefficient = 2T / d(d-1) with distinct-neighbor degrees
        "clustering_coefficient": """
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e AS (
                SELECT a.l_partkey AS src, b.l_partkey AS dst
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            deg AS (
                SELECT id, count(*) AS d FROM (
                    SELECT src AS id FROM e UNION ALL SELECT dst FROM e
                ) GROUP BY id
            ),
            tri AS (
                SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                FROM e e1
                JOIN e e2 ON e1.dst = e2.src
                JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
            ),
            per_v AS (
                SELECT id, count(*) AS t FROM (
                    SELECT x AS id FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri
                ) GROUP BY id
            )
            SELECT p.p_partkey AS id,
                   coalesce(per_v.t, 0) AS n_triangles,
                   round(CASE WHEN coalesce(deg.d, 0) >= 2
                              THEN 2.0 * coalesce(per_v.t, 0)
                                   / (deg.d * (deg.d - 1))
                              ELSE 0.0 END, 6) AS coefficient
            FROM part p
            LEFT JOIN per_v ON p.p_partkey = per_v.id
            LEFT JOIN deg ON p.p_partkey = deg.id
        """,
        # wedge enumeration through each undirected center, canonical
        # pair order, center degree = distinct undirected neighbors
        "link_prediction": f"""
            WITH e AS (
                SELECT o_custkey AS src, o_orderkey + {ORDER_OFFSET} AS dst
                FROM orders
            ),
            und AS (
                SELECT src, dst FROM e
                UNION
                SELECT dst AS src, src AS dst FROM e
            ),
            deg AS (SELECT src AS w, count(*) AS d FROM und GROUP BY src),
            wedge AS (
                SELECT u1.src AS w, u1.dst AS a, u2.dst AS b
                FROM und u1 JOIN und u2 ON u1.src = u2.src AND u1.dst < u2.dst
            )
            ,
            cn AS (
                SELECT a AS id_a, b AS id_b,
                       count(*) AS common_neighbors,
                       round(sum(1.0 / ln(d)), 6) AS adamic_adar
                FROM wedge JOIN deg USING (w)
                GROUP BY a, b
            )
            SELECT cn.id_a, cn.id_b, cn.common_neighbors, cn.adamic_adar,
                   round(cn.common_neighbors * 1.0
                         / (da.d + db.d - cn.common_neighbors), 6) AS jaccard
            FROM cn
            JOIN deg da ON cn.id_a = da.w
            JOIN deg db ON cn.id_b = db.w
        """,
        # two HITS iterations unrolled: each auth/hub update is a
        # join+sum, each normalization a scalar subquery — mirrors the
        # operator's exact per-iteration normalize ordering
        "hits": """
            WITH v AS (
                SELECT s_suppkey AS id FROM supplier
                UNION ALL
                SELECT p_partkey + 10000000 AS id FROM part
            ),
            e AS (
                SELECT DISTINCT l_suppkey AS src,
                                l_partkey + 10000000 AS dst
                FROM lineitem
            ),
            ra1 AS (SELECT dst AS id, CAST(count(*) AS DOUBLE) AS raw
                    FROM e GROUP BY dst),
            a1 AS (SELECT id, raw / nullif((SELECT sqrt(sum(raw*raw)) FROM ra1), 0)
                          AS auth FROM ra1),
            rh1 AS (SELECT e.src AS id, sum(a1.auth) AS raw
                    FROM e JOIN a1 ON e.dst = a1.id GROUP BY e.src),
            h1 AS (SELECT id, raw / nullif((SELECT sqrt(sum(raw*raw)) FROM rh1), 0)
                          AS hub FROM rh1),
            ra2 AS (SELECT e.dst AS id, sum(h1.hub) AS raw
                    FROM e JOIN h1 ON e.src = h1.id GROUP BY e.dst),
            a2 AS (SELECT id, raw / nullif((SELECT sqrt(sum(raw*raw)) FROM ra2), 0)
                          AS auth FROM ra2),
            rh2 AS (SELECT e.src AS id, sum(a2.auth) AS raw
                    FROM e JOIN a2 ON e.dst = a2.id GROUP BY e.src),
            h2 AS (SELECT id, raw / nullif((SELECT sqrt(sum(raw*raw)) FROM rh2), 0)
                          AS hub FROM rh2)
            SELECT v.id,
                   round(coalesce(h2.hub, 0.0), 6) AS hub,
                   round(coalesce(a2.auth, 0.0), 6) AS authority
            FROM v
            LEFT JOIN h2 ON v.id = h2.id
            LEFT JOIN a2 ON v.id = a2.id
        """,
        # unique path per pair on a chain, so weighted SSSP distance is an
        # exact prefix-sum difference along the min-user event chain
        "sssp": """
            WITH seq AS (
                SELECT event_id, user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ),
            chain AS (
                SELECT event_id, rn, value,
                       sum(value) OVER (ORDER BY rn
                                        ROWS UNBOUNDED PRECEDING) AS cum
                FROM seq
                WHERE user_id = (SELECT min(user_id) FROM events)
            ),
            lm AS (
                SELECT event_id AS lm_id, rn AS lrn,
                       cum - value AS lbase
                FROM chain
                WHERE rn = (SELECT least(21, max(rn)) FROM chain)
            )
            SELECT c.event_id AS id, lm.lm_id AS landmark,
                   round(lm.lbase - (c.cum - c.value), 6) AS distance
            FROM chain c, lm
            WHERE c.rn <= lm.lrn
        """,
        # the Spark side runs the salted two-level tournament; the oracle is
        # the single-window definition — identical rows by construction
        "dp_balanced_sample": """
            SELECT doc_id, lang, source
            FROM (
                SELECT doc_id, lang, source,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(concat_ws(chr(31), 'r4',
                                                  CAST(doc_id AS VARCHAR))),
                                    doc_id
                       ) AS rn
                FROM documents
            )
            WHERE rn <= 20
        """,
        "dp_source_rollup": """
            WITH t AS (
                SELECT source, lang, text,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> len(x) > 0) AS t
                FROM documents
            ), m AS (
                SELECT source, lang,
                       len(t) AS n_tokens,
                       list_sum(list_transform(t, x -> len(x))) AS tok_chars,
                       len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                           AS punct_chars,
                       len(text) AS n_chars,
                       md5(array_to_string(t, ' ')) AS fp
                FROM t
            )
            SELECT source, lang,
                   count(*) AS n_docs,
                   round(avg(n_tokens), 6) AS avg_tokens,
                   round(avg(CASE WHEN n_tokens >= 5
                                  AND tok_chars / CAST(n_tokens AS DOUBLE) >= 2.0
                                  AND tok_chars / CAST(n_tokens AS DOUBLE) <= 15.0
                                  AND punct_chars / CAST(n_chars AS DOUBLE) <= 0.3
                             THEN 1.0 ELSE 0.0 END), 6) AS keep_rate,
                   count(DISTINCT fp) AS n_unique,
                   round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 6) AS dup_rate
            FROM m
            GROUP BY source, lang
        """,
        "dp_simhash_pairs": _simhash_oracle_sql(),
        "dp_embedding_pairs": _embedding_banded_oracle_sql(),
        "dp_ann_topk": _ANN_EXACT_SQL,
        # exact-mode degenerations of the approximate paths: same result set
        # as brute force, so they share its oracle
        "dp_lsh_exact": _ANN_EXACT_SQL,
        "dp_lsh_topk": _lsh_topk_oracle_sql(),
        "dp_ivf_exact": _ANN_EXACT_SQL,
        "dp_ivf_topk": """
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ),
            cents AS (
                SELECT vec_id AS cid, v AS cv,
                       row_number() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                       ) - 1 AS cell
                FROM e
                QUALIFY cell < 8
            ),
            assign AS (
                SELECT c.vec_id AS neighbor_id, c.v, ct.cell
                FROM e c CROSS JOIN cents ct
                QUALIFY row_number() OVER (
                    PARTITION BY c.vec_id
                    ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
                             ct.cell ASC
                ) = 1
            ),
            probes AS (
                SELECT q.vec_id AS query_id, q.v AS qv, ct.cell
                FROM e q CROSS JOIN cents ct
                WHERE q.vec_id < 10
                QUALIFY row_number() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.v, ct.cv) DESC,
                             ct.cell ASC
                ) <= 3
            ),
            scored AS (
                SELECT p.query_id, a.neighbor_id,
                       list_cosine_similarity(p.qv, a.v) AS sim
                FROM probes p JOIN assign a ON p.cell = a.cell
                WHERE p.query_id <> a.neighbor_id
            )
            SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank
            FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC,
                                                   neighbor_id ASC) AS rk
                FROM scored
            ) WHERE rk <= 5
        """,
        "mis_regions": """
            SELECT n_regionkey AS region, CAST(1 AS BIGINT) AS n_selected
            FROM nation GROUP BY n_regionkey
        """,
        # MIS on the customer perfect matching: p is provably 1/2 every
        # round, so pair (a, a+1) settles at the first round where exactly
        # one endpoint's md5 draw is <= 1/2, and the nominator wins;
        # unpaired vertices are isolated -> join round 1.
        # Same draw primitive as lib/mis.py _det_draw (seed 7, rounds
        # 1..64): first 12 md5 hex chars over 16^12.
        "mis": """
            WITH ids AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
            pairs AS (
                SELECT a.id AS a, b.id AS b
                FROM ids a JOIN ids b ON b.id = a.id + 1
                WHERE a.id % 2 = 1
            ),
            unpaired AS (
                SELECT id FROM ids
                WHERE id NOT IN (SELECT a FROM pairs UNION ALL SELECT b FROM pairs)
            ),
            noms AS (
                SELECT p.a, p.b, t.r,
                       (('0x' || substr(md5(concat_ws(chr(31), '7',
                            CAST(t.r AS VARCHAR), CAST(p.a AS VARCHAR))), 1, 12))::BIGINT
                         / 281474976710656.0) <= 0.5 AS na,
                       (('0x' || substr(md5(concat_ws(chr(31), '7',
                            CAST(t.r AS VARCHAR), CAST(p.b AS VARCHAR))), 1, 12))::BIGINT
                         / 281474976710656.0) <= 0.5 AS nb
                FROM pairs p CROSS JOIN generate_series(1, 64) t(r)
            ),
            settle AS (
                SELECT a, b, min(r) AS rstar FROM noms WHERE na <> nb GROUP BY a, b
            )
            SELECT CASE WHEN n.na THEN s.a ELSE s.b END AS id
            FROM settle s
            JOIN noms n ON n.a = s.a AND n.b = s.b AND n.r = s.rstar
            UNION ALL
            SELECT id FROM unpaired
        """,
        "kmin_sampling": f"""
            WITH adj AS ({_NATION_EDGES_SQL}),
            deg AS (SELECT src AS id, count(DISTINCT dst) AS d FROM adj GROUP BY src)
            SELECT CAST(id AS BIGINT) AS id,
                   least(3, d) AS n_sampled,
                   least(3, d) AS n_valid,
                   least(3, d) AS n_distinct
            FROM deg
        """,
        "pg_join_vertices": """
            SELECT CAST(s_suppkey AS BIGINT) AS external_id,
                   'suppliers' AS property_group,
                   CAST(1 AS INTEGER) AS degree
            FROM supplier
            UNION ALL
            SELECT CAST(n.n_nationkey AS BIGINT), 'nations',
                   CAST(coalesce(c.cnt, 0) AS INTEGER)
            FROM nation n
            LEFT JOIN (SELECT s_nationkey, count(*) AS cnt
                       FROM supplier GROUP BY s_nationkey) c
              ON n.n_nationkey = c.s_nationkey
        """,
        "shortest_paths_undirected": """
            SELECT n.n_nationkey AS id, 0 AS landmark,
                   CAST(CASE WHEN n.n_nationkey = 0 THEN 0 ELSE 1 END AS INTEGER)
                       AS distance
            FROM nation n
            WHERE n.n_regionkey =
                  (SELECT n_regionkey FROM nation WHERE n_nationkey = 0)
        """,
        "pg_copurchase": """
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS n_orders
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "random_walk_stats": """
            SELECT n_nationkey AS start_id,
                   CAST(2 AS BIGINT) AS n_walks,
                   CAST(6 AS INTEGER) AS min_len,
                   CAST(6 AS INTEGER) AS max_len,
                   CAST(0 AS BIGINT) AS off_clique
            FROM nation
        """,
        "pic": """
            WITH sel AS (
                SELECT CAST(o_orderkey AS BIGINT) AS id, o_custkey AS ck
                FROM orders WHERE o_custkey % 100 = 0
            ),
            siz AS (
                SELECT ck, COUNT(*) AS s FROM sel GROUP BY ck
                HAVING COUNT(*) >= 2
            ),
            verts AS (
                SELECT sel.id, siz.s FROM sel JOIN siz ON sel.ck = siz.ck
            ),
            tot AS (SELECT CAST(SUM(s - 1) AS DOUBLE) AS t FROM verts),
            emb AS (
                SELECT id, ROUND(CAST(s - 1 AS DOUBLE) / t, 10) AS e
                FROM verts, tot
            ),
            d AS (SELECT DISTINCT e FROM emb),
            g AS (
                SELECT e, e - LAG(e) OVER (ORDER BY e) AS gap FROM d
            ),
            cuts AS (
                SELECT e AS cut FROM g WHERE gap IS NOT NULL
                ORDER BY gap DESC, e ASC LIMIT 2
            ),
            lab AS (
                SELECT d.e,
                       (SELECT COUNT(*) FROM cuts WHERE cuts.cut <= d.e)
                       AS cluster
                FROM d
            )
            SELECT emb.id AS id, CAST(lab.cluster AS INT) AS cluster
            FROM emb JOIN lab ON emb.e = lab.e
        """,
        "pic_regions": """
            SELECT CAST(n.n_nationkey AS BIGINT) AS id,
                   CAST(r.rep AS BIGINT) AS cluster_rep
            FROM nation n
            JOIN (SELECT n_regionkey, min(n_nationkey) AS rep
                  FROM nation GROUP BY n_regionkey) r
              ON n.n_regionkey = r.n_regionkey
        """,
        "dp_multimodal_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
                   sha256(text) AS sha256
            FROM documents
        """,
        "dp_multimodal_features": """
            WITH d AS (
                SELECT doc_id,
                       list_transform(str_split(text, ''), c -> ord(c)) AS codes,
                       greatest(length(text), 1) AS total
                FROM documents
            )
            SELECT doc_id,
                   round(len(list_filter(codes, x -> x % 16 = 0))
                         / (total * 1.0), 6) AS f0,
                   round(len(list_filter(codes, x -> x % 16 = 1))
                         / (total * 1.0), 6) AS f1
            FROM d
        """,
        # md5-ranked k-min neighbor sampling replayed exactly: the 3
        # sampled neighbors of each nation are the 3 smallest by
        # md5(concat_ws(chr(31), src, dst, '7')) with dst tiebreak —
        # identical hex strings in both engines, so the means encode the
        # same selection. Every nation sits in a 5-clique (degree 4), so
        # the concat-self vector is always 2 self + 2 mean dims.
        "sampling_convolution": f"""
            WITH adj AS (SELECT DISTINCT src, dst FROM ({_NATION_EDGES_SQL})),
            ranked AS (
                SELECT src, dst,
                       row_number() OVER (
                           PARTITION BY src
                           ORDER BY md5(concat_ws(chr(31), CAST(src AS VARCHAR),
                                                  CAST(dst AS VARCHAR), '7')), dst
                       ) AS rn
                FROM adj
            ),
            m AS (
                SELECT src AS id, avg(CAST(dst AS DOUBLE)) AS m0
                FROM ranked WHERE rn <= 3 GROUP BY src
            )
            SELECT CAST(m.id AS BIGINT) AS id,
                   CAST(4 AS INTEGER) AS dim,
                   round(m.m0, 6) AS nbr_mean0,
                   round(m.m0 * 2, 6) AS nbr_mean1
            FROM m
        """,
        "sampling_convolution_full": """
            WITH nb AS (
                SELECT a.n_nationkey AS id,
                       avg(CAST(b.n_nationkey AS DOUBLE)) AS m
                FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
                WHERE a.n_nationkey <> b.n_nationkey
                GROUP BY a.n_nationkey
            )
            SELECT id, round(m, 6) AS nbr_mean0, round(m * 2, 6) AS nbr_mean1
            FROM nb
        """,
        # Pearson over both orientations of each undirected edge; DuckDB's
        # sample corr() equals the population-moment ratio (factors cancel)
        "assortativity": f"""
            WITH e AS (
                SELECT o_custkey AS src, o_orderkey + {ORDER_OFFSET} AS dst
                FROM orders
            ),
            und AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM e
                    UNION ALL
                    SELECT dst AS src, src AS dst FROM e
                )
            ),
            deg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY src)
            SELECT round(corr(CAST(ds.d AS DOUBLE), CAST(dd.d AS DOUBLE)), 6)
                   AS assortativity
            FROM und
            JOIN deg ds ON und.src = ds.id
            JOIN deg dd ON und.dst = dd.id
        """,
        # Q = sum_c ( L_c/m - (d_c/2m)^2 ) over the id%3 partition of the
        # symmetrized nation graph
        "modularity_regions": f"""
            WITH adj AS ({_NATION_EDGES_SQL}),
            und AS (SELECT DISTINCT src, dst FROM adj),
            canon AS (SELECT src, dst FROM und WHERE src < dst),
            asg AS (SELECT n_nationkey AS id, n_nationkey % 3 AS c FROM nation),
            m AS (SELECT count(*) AS m FROM canon),
            deg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY src),
            dc AS (
                SELECT a.c, sum(deg.d) AS dc
                FROM deg JOIN asg a ON deg.id = a.id GROUP BY a.c
            ),
            lc AS (
                SELECT a1.c, count(*) AS lc
                FROM canon e
                JOIN asg a1 ON e.src = a1.id
                JOIN asg a2 ON e.dst = a2.id
                WHERE a1.c = a2.c GROUP BY a1.c
            )
            SELECT round(sum(
                       coalesce(lc.lc, 0) / (m.m * 1.0)
                       - (dc.dc / (2.0 * m.m)) * (dc.dc / (2.0 * m.m))
                   ), 6) AS modularity
            FROM dc LEFT JOIN lc ON dc.c = lc.c CROSS JOIN m
        """,
        # triangles recounted with a 3-way canonical-edge join; wedges
        # from distinct-neighbor degrees
        "transitivity": f"""
            WITH nedges AS (
                SELECT a.n_nationkey + {NAT_OFF} AS src,
                       b.n_nationkey + {NAT_OFF} AS dst
                FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
                WHERE a.n_nationkey <> b.n_nationkey
            ),
            alledges AS (
                SELECT src, dst FROM nedges
                UNION ALL
                SELECT c_nationkey + {NAT_OFF} AS src, c_custkey AS dst
                FROM customer
            ),
            canon AS (
                SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
                FROM alledges WHERE src <> dst
            ),
            deg AS (
                SELECT id, count(*) AS d FROM (
                    SELECT src AS id FROM canon
                    UNION ALL
                    SELECT dst AS id FROM canon
                ) GROUP BY id
            ),
            wedges AS (SELECT sum(d * (d - 1) / 2.0) AS w FROM deg),
            tri AS (
                SELECT count(*) AS t
                FROM canon e1
                JOIN canon e2 ON e2.src = e1.dst
                JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst
            )
            SELECT round(3.0 * t / w, 6) AS transitivity
            FROM tri CROSS JOIN wedges
        """,
        # md5 order, shard hash, cumulative-sum window — replayed
        "dp_pack": """
            WITH t AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split_regex(lower(text),
                            '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
                       md5(concat_ws(chr(31), 'pack',
                           CAST(doc_id AS VARCHAR))) AS r
                FROM documents
            ),
            s AS (
                SELECT *, ('0x' || substr(r, 1, 12))::BIGINT % 4 AS shard
                FROM t
            ),
            c AS (
                SELECT doc_id, shard, n_tokens,
                       sum(n_tokens) OVER (PARTITION BY shard
                                           ORDER BY r, doc_id
                                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM s
            )
            SELECT doc_id, shard,
                   CAST(floor((cum - n_tokens) * 1.0 / 256) AS BIGINT) AS bin,
                   CAST((cum - n_tokens) % 256 AS BIGINT) AS bin_pos,
                   n_tokens,
                   floor((cum - 1) * 1.0 / 256)
                       > floor((cum - n_tokens) * 1.0 / 256) AS straddles
            FROM c
        """,
        # fingerprint + token-count quality + keep window, replayed
        "dp_dedup_corpus": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> len(x) > 0) AS tok
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       md5(array_to_string(tok, ' ')) AS dedup_group,
                       len(tok) AS q
                FROM t
            )
            SELECT doc_id, dedup_group,
                   row_number() OVER (PARTITION BY dedup_group
                                      ORDER BY q DESC, doc_id ASC) = 1 AS keep
            FROM g
        """,
        # split/threshold/rebuild replay; string_agg skips the
        # boilerplate rows exactly like collect_list skips nulls
        "dp_boilerplate": """
            WITH segs AS (
                SELECT doc_id, unnest(l) AS seg,
                       unnest(range(1, len(l) + 1)) AS pos
                FROM (SELECT doc_id, string_split(text, ' ') AS l
                      FROM documents)
            ),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            boiler AS (
                SELECT trim(seg) AS segment
                FROM segs WHERE len(trim(seg)) > 0
                GROUP BY trim(seg)
                HAVING count(DISTINCT doc_id) >= 2
                   AND count(DISTINCT doc_id) >= 0.5 * (SELECT n_docs FROM n)
            ),
            marked AS (
                SELECT s.doc_id, s.pos, s.seg,
                       b.segment IS NOT NULL AS is_boiler
                FROM segs s LEFT JOIN boiler b ON trim(s.seg) = b.segment
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN NOT is_boiler THEN seg END,
                                       ' ' ORDER BY pos), '') AS text,
                   count(*) AS n_segments,
                   count(*) FILTER (WHERE is_boiler) AS n_removed
            FROM marked GROUP BY doc_id
        """,
        # interpolated percentiles replayed with quantile_cont
        "dp_profile": """
            WITH t AS (
                SELECT source,
                       CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> len(x) > 0)) AS DOUBLE) AS tok,
                       CAST(len(text) AS DOUBLE) AS ch
                FROM documents
            )
            SELECT source, count(*) AS n_docs,
                   round(quantile_cont(tok, 0.25), 6) AS tokens_p25,
                   round(quantile_cont(tok, 0.50), 6) AS tokens_p50,
                   round(quantile_cont(tok, 0.75), 6) AS tokens_p75,
                   round(quantile_cont(tok, 0.95), 6) AS tokens_p95,
                   round(quantile_cont(ch, 0.25), 6) AS chars_p25,
                   round(quantile_cont(ch, 0.50), 6) AS chars_p50,
                   round(quantile_cont(ch, 0.75), 6) AS chars_p75,
                   round(quantile_cont(ch, 0.95), 6) AS chars_p95
            FROM t GROUP BY source
        """,
        # hourly buckets + endpoint explode replayed with time_bucket
        "dp_stream_degrees": f"""
            WITH e AS (
                SELECT user_id + {USER_OFF} AS src, event_id AS dst, ts
                FROM events
            ),
            ends AS (
                SELECT ts, src AS id, 1 AS o, 0 AS i FROM e
                UNION ALL
                SELECT ts, dst AS id, 0 AS o, 1 AS i FROM e
            )
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                            '%Y-%m-%d %H:%M:%S') AS w_start, id,
                   CAST(sum(o) AS BIGINT) AS out_degree,
                   CAST(sum(i) AS BIGINT) AS in_degree,
                   count(*) AS degree
            FROM ends GROUP BY 1, 2
        """,
        # every describe() statistic as a plain SQL aggregate
        "describe_graph": f"""
            WITH v AS (
                SELECT c_custkey AS id FROM customer
                UNION ALL
                SELECT o_orderkey + {ORDER_OFFSET} AS id FROM orders
            ),
            e AS (
                SELECT o_custkey AS src, o_orderkey + {ORDER_OFFSET} AS dst
                FROM orders
            ),
            nv AS (SELECT count(*) AS n_vertices FROM v),
            ne AS (
                SELECT count(*) AS n_edges,
                       count(*) FILTER (WHERE src = dst) AS n_self_loops
                FROM e
            ),
            de AS (
                SELECT count(*) AS n_distinct_edges
                FROM (SELECT DISTINCT src, dst FROM e WHERE src <> dst)
            ),
            iso AS (
                SELECT count(*) AS n_isolated FROM v
                WHERE v.id NOT IN (SELECT src FROM e)
                  AND v.id NOT IN (SELECT dst FROM e)
            ),
            od AS (
                SELECT coalesce(max(d), 0) AS max_out_degree
                FROM (SELECT count(*) AS d FROM e GROUP BY src)
            ),
            idg AS (
                SELECT coalesce(max(d), 0) AS max_in_degree
                FROM (SELECT count(*) AS d FROM e GROUP BY dst)
            )
            SELECT n_vertices, n_edges, n_distinct_edges, n_self_loops,
                   n_isolated,
                   round(n_distinct_edges * 1.0
                         / (n_vertices * 1.0 * (n_vertices - 1)), 9) AS density,
                   round(n_edges * 1.0 / n_vertices, 6) AS avg_out_degree,
                   max_out_degree, max_in_degree
            FROM nv CROSS JOIN ne CROSS JOIN de CROSS JOIN iso
            CROSS JOIN od CROSS JOIN idg
        """,
        # mixing-matrix trace + marginal squares over symmetrized ends
        "attr_assortativity": f"""
            WITH alledges AS (
                SELECT a.n_nationkey + {NAT_OFF} AS src,
                       b.n_nationkey + {NAT_OFF} AS dst
                FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
                WHERE a.n_nationkey <> b.n_nationkey
                UNION ALL
                SELECT c_nationkey + {NAT_OFF} AS src, c_custkey AS dst
                FROM customer
            ),
            und AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM alledges WHERE src <> dst
                    UNION ALL
                    SELECT dst AS src, src AS dst FROM alledges
                    WHERE src <> dst
                )
            ),
            attr AS (
                SELECT n_nationkey + {NAT_OFF} AS id, 'n' AS a FROM nation
                UNION ALL
                SELECT c_custkey AS id, 'c' AS a FROM customer
            ),
            ann AS (
                SELECT s.a AS asrc, d.a AS adst
                FROM und u
                JOIN attr s ON u.src = s.id
                JOIN attr d ON u.dst = d.id
            ),
            tot AS (
                SELECT count(*) AS n,
                       count(*) FILTER (WHERE asrc = adst) AS tr
                FROM ann
            ),
            ss AS (
                SELECT sum(c * c) AS ss FROM (
                    SELECT CAST(count(*) AS DOUBLE) AS c
                    FROM ann GROUP BY asrc
                )
            )
            SELECT round((tr * 1.0 / n - ss / (n * 1.0 * n))
                         / (1 - ss / (n * 1.0 * n)), 6) AS assortativity
            FROM tot CROSS JOIN ss
        """,
        # degree-pair md5 colors + one (hash-sum, count) refinement,
        # replayed with DuckDB's 0x-hex BIGINT cast
        "wl_labels": f"""
            WITH v AS (
                SELECT n_nationkey + {NAT_OFF} AS id FROM nation
                UNION ALL SELECT c_custkey FROM customer
            ),
            e AS (
                SELECT a.n_nationkey + {NAT_OFF} AS src,
                       b.n_nationkey + {NAT_OFF} AS dst
                FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
                WHERE a.n_nationkey <> b.n_nationkey
                UNION ALL
                SELECT c_nationkey + {NAT_OFF} AS src, c_custkey AS dst
                FROM customer
            ),
            ind AS (SELECT dst AS id, count(*) AS i FROM e GROUP BY dst),
            outd AS (SELECT src AS id, count(*) AS o FROM e GROUP BY src),
            c0 AS (
                SELECT v.id, md5(coalesce(i, 0) || ':' || coalesce(o, 0)) AS c
                FROM v
                LEFT JOIN ind ON v.id = ind.id
                LEFT JOIN outd ON v.id = outd.id
            ),
            h0 AS (
                SELECT id, c, ('0x' || substr(c, 1, 12))::BIGINT AS h FROM c0
            ),
            m AS (
                SELECT e.dst AS id, h0.h, 'i' AS d
                FROM e JOIN h0 ON h0.id = e.src
                UNION ALL
                SELECT e.src AS id, h0.h, 'o' AS d
                FROM e JOIN h0 ON h0.id = e.dst
            ),
            a AS (
                SELECT id,
                       coalesce(sum(CASE WHEN d = 'i' THEN h END), 0) AS isum,
                       count(CASE WHEN d = 'i' THEN 1 END) AS icnt,
                       coalesce(sum(CASE WHEN d = 'o' THEN h END), 0) AS osum,
                       count(CASE WHEN d = 'o' THEN 1 END) AS ocnt
                FROM m GROUP BY id
            )
            SELECT c0.id,
                   md5(c0.c || '|' || coalesce(a.isum, 0) || ':'
                       || coalesce(a.icnt, 0) || '|' || coalesce(a.osum, 0)
                       || ':' || coalesce(a.ocnt, 0)) AS wl_label
            FROM c0 LEFT JOIN a ON c0.id = a.id
        """,
        # out-tree spreading: label = ancestor region key, closed form
        "seeded_lpa": f"""
            SELECT r_regionkey + {REG_OFF} AS id, r_regionkey AS label
            FROM region
            UNION ALL
            SELECT n_nationkey + {NAT_OFF} AS id, n_regionkey AS label
            FROM nation
            UNION ALL
            SELECT c.c_custkey AS id, n.n_regionkey AS label
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        """,
        # canonicalize + community joins + aggregate, replayed verbatim
        "contract_regions": f"""
            WITH adj AS ({_NATION_EDGES_SQL}),
            ce AS (
                SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                       CAST(count(*) AS DOUBLE) AS w
                FROM adj GROUP BY 1, 2
            ),
            asg AS (SELECT n_nationkey AS id, n_regionkey AS c FROM nation)
            SELECT least(ma.c, mb.c) AS src, greatest(ma.c, mb.c) AS dst,
                   round(sum(ce.w), 6) AS weight
            FROM ce
            JOIN asg ma ON ce.a = ma.id
            JOIN asg mb ON ce.b = mb.id
            GROUP BY 1, 2
        """,
        # md5 threshold on the src:dst pair key, replayed verbatim
        "split_edges": f"""
            SELECT o_custkey AS src, o_orderkey + {ORDER_OFFSET} AS dst,
                   CASE
                       WHEN md5(concat_ws(chr(31), 'r4',
                                CAST(o_custkey AS VARCHAR) || ':' ||
                                CAST(o_orderkey + {ORDER_OFFSET} AS VARCHAR)))
                            < 'ccccccccccccd0000000000000000000' THEN 'train'
                       ELSE 'test'
                   END AS split
            FROM orders
        """,
        # bucketed md5 tournament + anti-join, replayed row-for-row
        "negative_edges": f"""
            WITH v AS (SELECT n_nationkey AS id FROM nation),
            edges AS ({_NATION_EDGES_SQL}),
            pool AS (
                SELECT id AS cand,
                       ('0x' || substr(md5('neg:' || id), 1, 12))::BIGINT % 4
                       AS b
                FROM v
            ),
            props AS (
                SELECT v.id AS src, s.slot,
                       ('0x' || substr(md5('neg:' || v.id || ':' || s.slot),
                                       1, 12))::BIGINT % 4 AS b
                FROM v, (SELECT unnest([0, 1, 2]) AS slot) s
            ),
            ranked AS (
                SELECT p.src, p.slot, pool.cand,
                       row_number() OVER (
                           PARTITION BY p.src, p.slot
                           ORDER BY ('0x' || substr(md5('neg:' || p.src || ':'
                                     || p.slot || ':' || pool.cand), 1, 12)
                                     )::BIGINT,
                                    pool.cand
                       ) AS rn
                FROM props p JOIN pool ON p.b = pool.b
                WHERE pool.cand <> p.src
            )
            SELECT DISTINCT r.src, r.cand AS dst
            FROM ranked r
            WHERE r.rn = 1
              AND NOT EXISTS (
                  SELECT 1 FROM edges e
                  WHERE e.src = r.src AND e.dst = r.cand
              )
        """,
        # disjoint cliques: Louvain = one community per region, labeled
        # by its smallest member
        "louvain_regions": """
            SELECT n_nationkey AS id,
                   min(n_nationkey) OVER (PARTITION BY n_regionkey) AS community
            FROM nation
        """,
        # walks_k via cascaded joins; katz = sum alpha^k * walks_k
        "katz": f"""
            WITH chain AS ({_EVENTS_CHAIN_SQL}),
            w1 AS (SELECT dst AS id, count(*) AS w FROM chain GROUP BY dst),
            w2 AS (
                SELECT c.dst AS id, sum(w1.w) AS w
                FROM chain c JOIN w1 ON w1.id = c.src GROUP BY c.dst
            ),
            w3 AS (
                SELECT c.dst AS id, sum(w2.w) AS w
                FROM chain c JOIN w2 ON w2.id = c.src GROUP BY c.dst
            )
            SELECT e.event_id AS id,
                   round(CAST(0.1 AS DOUBLE) * coalesce(w1.w, 0)
                         + CAST(0.01 AS DOUBLE) * coalesce(w2.w, 0)
                         + CAST(0.001 AS DOUBLE) * coalesce(w3.w, 0), 6) AS katz
            FROM events e
            LEFT JOIN w1 ON w1.id = e.event_id
            LEFT JOIN w2 ON w2.id = e.event_id
            LEFT JOIN w3 ON w3.id = e.event_id
        """,
        "reciprocity": f"""
            WITH fwd AS (
                SELECT o_custkey AS src, o_orderkey + {ORDER_OFFSET} AS dst
                FROM orders
            ),
            back AS (
                SELECT o_orderkey + {ORDER_OFFSET} AS src, o_custkey AS dst
                FROM orders WHERE o_orderkey % 3 = 0
            ),
            e AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT * FROM fwd UNION ALL SELECT * FROM back
                ) WHERE src <> dst
            ),
            mutual AS (
                SELECT count(*) AS mu FROM e a
                WHERE EXISTS (
                    SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src
                )
            ),
            total AS (SELECT count(*) AS tot FROM e)
            SELECT round(mu * 1.0 / tot, 6) AS reciprocity
            FROM mutual CROSS JOIN total
        """,
        # same regex replayed under RE2 ('g' = Spark's always-global)
        "dp_normalize": """
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                       AS normalized
                FROM documents
            )
            SELECT doc_id, normalized, md5(normalized) AS norm_md5 FROM n
        """,
        "dp_redact": r"""
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
                               '<EMAIL>', 'g'),
                           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                           '<IP>', 'g'),
                       '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b',
                       '<PHONE>', 'g') AS redacted_text,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
                       AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                       AS INTEGER) AS n_ips,
                   CAST(len(regexp_extract_all(text,
                       '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))
                       AS INTEGER) AS n_phones
            FROM documents
        """,
        "dp_tfidf": r"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0)) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term
            ),
            dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df
                FROM toks GROUP BY term
            ),
            n AS (SELECT count(*) AS n FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term,
                       round(tf.tf * ln(n.n / (1.0 * dfreq.df)), 6) AS score
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, score, CAST(rk AS INTEGER) AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
                FROM scored
            ) WHERE rk <= 5
        """,
        # out-tree Brandes: sigma=1 and delta(v)=#descendants, so a
        # nation's betweenness is its customer count; roots and leaves 0
        "betweenness": f"""
            WITH v AS (
                SELECT r_regionkey + {REG_OFF} AS id FROM region
                UNION ALL SELECT n_nationkey + {NAT_OFF} FROM nation
                UNION ALL SELECT c_custkey FROM customer
            ),
            bc AS (
                SELECT c_nationkey + {NAT_OFF} AS id,
                       CAST(count(*) AS DOUBLE) AS b
                FROM customer GROUP BY c_nationkey
            )
            SELECT v.id, round(coalesce(bc.b, 0.0), 6) AS betweenness
            FROM v LEFT JOIN bc USING (id)
        """,
        # chain: farthest vertex reaching the landmark is the chain head
        "eccentricity": """
            WITH seq AS (
                SELECT event_id, user_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ),
            mu AS (SELECT min(user_id) AS u FROM events),
            chainu AS (SELECT event_id, rn FROM seq, mu WHERE user_id = mu.u),
            lm AS (
                SELECT event_id AS lid, rn AS lrn FROM chainu
                WHERE rn = least(21, (SELECT max(rn) FROM chainu))
            )
            SELECT lid AS landmark,
                   CAST(lrn - 1 AS INTEGER) AS eccentricity,
                   CAST(lrn AS BIGINT) AS n_reached
            FROM lm
        """,
        # element-for-element absmax int8 replay; all-zero vectors -> 0s
        "dp_quantize": """
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ),
            m AS (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS absmax
                FROM e
            )
            SELECT vec_id,
                   CASE WHEN absmax > 0 THEN
                       array_to_string(list_transform(v,
                           x -> CAST(CAST(round(x * 127.0 / absmax) AS INTEGER) AS VARCHAR)), ' ')
                   ELSE
                       array_to_string(list_transform(v, x -> '0'), ' ')
                   END AS qvec_str,
                   round(CASE WHEN absmax > 0 THEN absmax / 127.0 ELSE 0.0 END, 9)
                   AS scale
            FROM m
        """,
        # seeded-md5 threshold chain replayed verbatim (98/1/1)
        "dp_split": """
            SELECT doc_id,
                   CASE
                       WHEN md5(concat_ws(chr(31), 'r4', CAST(doc_id AS VARCHAR)))
                            < 'fae147ae147ae0000000000000000000' THEN 'train'
                       WHEN md5(concat_ws(chr(31), 'r4', CAST(doc_id AS VARCHAR)))
                            < 'fd70a3d70a3d70000000000000000000' THEN 'val'
                       ELSE 'test'
                   END AS split
            FROM documents
        """,
        # one winner per exact-content fingerprint group
        "dp_keep_best": """
            WITH t AS (
                SELECT doc_id, n_chars,
                       md5(array_to_string(
                           list_filter(string_split_regex(lower(text), '\\s+'),
                                       x -> len(x) > 0), ' ')) AS fp
                FROM documents
            )
            SELECT doc_id, fp,
                   row_number() OVER (
                       PARTITION BY fp ORDER BY n_chars DESC, doc_id ASC
                   ) = 1 AS keep
            FROM t
        """,
        # 2-iteration closed form: customers settle at alpha/n after one
        # superstep; orders then get alpha/n + (1-alpha)(alpha/n)(w/sum_w)
        "pagerank_weighted": f"""
            WITH n AS (
                SELECT (SELECT count(*) FROM customer)
                       + (SELECT count(*) FROM orders) AS n
            ),
            ws AS (
                SELECT o_custkey, sum(o_totalprice) AS s
                FROM orders GROUP BY o_custkey
            )
            SELECT c_custkey AS id, round(0.15 / n.n, 10) AS pagerank
            FROM customer, n
            UNION ALL
            SELECT o.o_orderkey + {ORDER_OFFSET},
                   round(0.15 / n.n
                         + 0.85 * (0.15 / n.n) * (o.o_totalprice / ws.s), 10)
            FROM orders o JOIN ws ON o.o_custkey = ws.o_custkey, n
        """,
        # JP on a clique colors in strict priority order: color = rank-1
        "coloring_regions": """
            SELECT n_nationkey AS id,
                   CAST(row_number() OVER (
                       PARTITION BY n_regionkey
                       ORDER BY md5(concat_ws(chr(31), 'r4',
                                    CAST(n_nationkey AS VARCHAR))) DESC,
                                n_nationkey DESC
                   ) - 1 AS INTEGER) AS color
            FROM nation
        """,
        "triangles": """
            SELECT a.n_nationkey AS a, b.n_nationkey AS b, c.n_nationkey AS c
            FROM nation a
            JOIN nation b ON a.n_regionkey = b.n_regionkey
                         AND a.n_nationkey < b.n_nationkey
            JOIN nation c ON a.n_regionkey = c.n_regionkey
                         AND b.n_nationkey < c.n_nationkey
        """,
        # 3-step power iteration replayed as cascaded walk-count joins,
        # L2-normalized once at the end (mirrors the Spark plan exactly)
        "eigenvector": """
            WITH chain AS (
                SELECT c_custkey AS src, c_custkey % 97 + 1 AS dst
                FROM customer WHERE c_custkey <> c_custkey % 97 + 1
            ),
            w1 AS (SELECT dst AS id, count(*) AS w FROM chain GROUP BY dst),
            w2 AS (
                SELECT c.dst AS id, sum(w1.w) AS w
                FROM chain c JOIN w1 ON w1.id = c.src GROUP BY c.dst
            ),
            w3 AS (
                SELECT c.dst AS id, sum(w2.w) AS w
                FROM chain c JOIN w2 ON w2.id = c.src GROUP BY c.dst
            ),
            x AS (
                SELECT c.c_custkey AS id,
                       CAST(coalesce(w3.w, 0) AS DOUBLE) AS x
                FROM customer c LEFT JOIN w3 ON w3.id = c.c_custkey
            ),
            nrm AS (SELECT sqrt(sum(x.x * x.x)) AS n FROM x)
            SELECT x.id, round(x.x / nrm.n, 6) AS eigenvector
            FROM x CROSS JOIN nrm
        """,
        "group_edges": f"""
            SELECT l_suppkey AS src, l_partkey + {PART_OFFSET} AS dst,
                   CAST(count(*) AS BIGINT) AS n_lineitems,
                   round(sum(l_quantity), 6) AS sum_qty
            FROM lineitem
            GROUP BY 1, 2
        """,
        # dyad census + labeled triangles on the partially-directed
        # nation cliques (edge kept iff a < b or (a + b) % 3 = 0)
        "triad_census": """
            WITH e AS (
                SELECT a.n_nationkey AS src, b.n_nationkey AS dst
                FROM nation a JOIN nation b
                  ON a.n_regionkey = b.n_regionkey
                 AND a.n_nationkey <> b.n_nationkey
                WHERE a.n_nationkey < b.n_nationkey
                   OR (a.n_nationkey + b.n_nationkey) % 3 = 0
            ),
            n AS (SELECT count(*) AS nv FROM nation),
            m AS (
                SELECT count(*) / 2 AS mutual FROM e a
                WHERE EXISTS (
                    SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src
                )
            ),
            t AS (SELECT count(*) AS edges FROM e),
            cyc AS (
                SELECT count(*) / 3 AS c FROM e ab
                JOIN e bc ON bc.src = ab.dst
                JOIN e ca ON ca.src = bc.dst AND ca.dst = ab.src
                WHERE ab.src <> bc.dst
            ),
            tr AS (
                SELECT count(*) AS c FROM e ab
                JOIN e bc ON bc.src = ab.dst
                JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst
                WHERE ab.src <> bc.dst
            )
            SELECT CAST(m.mutual AS BIGINT) AS mutual_dyads,
                   CAST(t.edges - 2 * m.mutual AS BIGINT) AS asym_dyads,
                   CAST(n.nv * (n.nv - 1) / 2
                        - (t.edges - m.mutual) AS BIGINT) AS null_dyads,
                   CAST(cyc.c AS BIGINT) AS cyclic_triangles,
                   CAST(tr.c AS BIGINT) AS transitive_triangles
            FROM n CROSS JOIN m CROSS JOIN t CROSS JOIN cyc CROSS JOIN tr
        """,
        "dp_dup_spans": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> len(x) > 0) AS t
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               FOR i IN range(1, len(t) - 1)]) AS gram
                FROM toks WHERE len(t) >= 3
            ),
            per_doc AS (
                SELECT gram, doc_id, count(*) AS occ
                FROM grams GROUP BY gram, doc_id
            )
            SELECT gram,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(occ) AS BIGINT) AS n_occurrences
            FROM per_doc GROUP BY gram HAVING count(*) >= 2
        """,
        "dp_word_freq": """
            WITH toks AS (
                SELECT unnest(list_filter(string_split_regex(lower(text),
                              '\\s+'), x -> len(x) > 0)) AS token
                FROM documents
            ),
            counts AS (
                SELECT token, CAST(count(*) AS BIGINT) AS count
                FROM toks GROUP BY token HAVING count(*) >= 2
            ),
            tot AS (SELECT sum(count) AS t FROM counts)
            SELECT token, count,
                   CAST(row_number() OVER (ORDER BY count DESC, token ASC)
                        AS INTEGER) AS rank,
                   round(count * 1.0 / tot.t, 9) AS frequency
            FROM counts CROSS JOIN tot
        """,
        # per-source keep rates w^tau / sum(w^tau) * target * N / n_s
        # (capped at 1), membership by the seeded md5 12-hex-digit unit
        "dp_temp_sample": """
            WITH c AS (
                SELECT source, count(*) AS n FROM documents GROUP BY source
            ),
            a AS (SELECT source, n, pow(n * 1.0, 0.5) AS w FROM c),
            t AS (SELECT sum(w) AS tw, sum(n) AS tn FROM a),
            r AS (
                SELECT a.source,
                       least(1.0, (a.w / t.tw) * 0.5 * t.tn / a.n) AS rate
                FROM a CROSS JOIN t
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN r ON r.source = d.source
            WHERE ('0x' || substr(md5(concat_ws(chr(31), 'mix',
                       CAST(d.doc_id AS VARCHAR))), 1, 12))::BIGINT
                  / CAST(281474976710656 AS DOUBLE) < r.rate
        """,
        "dp_dup_coverage": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> len(x) > 0) AS t
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       CASE WHEN len(t) >= 3
                            THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  FOR i IN range(1, len(t) - 1)]
                            ELSE [] END AS g
                FROM toks
            ),
            per_doc AS (
                SELECT doc_id, unnest(g) AS gram FROM grams
            ),
            doc_gram AS (
                SELECT doc_id, gram, count(*) AS occ
                FROM per_doc GROUP BY doc_id, gram
            ),
            dup AS (
                SELECT gram FROM doc_gram GROUP BY gram
                HAVING count(*) >= 2
            ),
            dup_per_doc AS (
                SELECT dg.doc_id, sum(dg.occ) AS nd
                FROM doc_gram dg JOIN dup ON dup.gram = dg.gram
                GROUP BY dg.doc_id
            )
            SELECT g.doc_id,
                   CAST(len(g.g) AS INTEGER) AS n_grams,
                   CAST(coalesce(d.nd, 0) AS BIGINT) AS n_dup_grams,
                   round(CASE WHEN len(g.g) > 0
                              THEN coalesce(d.nd, 0) * 1.0 / len(g.g)
                              ELSE 0.0 END, 9) AS dup_coverage
            FROM grams g LEFT JOIN dup_per_doc d ON d.doc_id = g.doc_id
        """,
        # the oracle replays only the EXACT contamination semantics —
        # the Spark side's Bloom prefilter is invisible by construction
        # (no false negatives; false positives die in the exact verify)
        "dp_bloom_decontam": f"""
            WITH sh AS ({_DOC_SHINGLES_SQL}),
            contaminated AS (
                SELECT DISTINCT a.doc_id
                FROM sh a JOIN sh b
                  ON b.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
                WHERE len(list_intersect(a.sh, b.sh)) >= 2
            )
            SELECT d.doc_id, d.lang, d.source
            FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        """,
        "dp_cross_dedup": """
            WITH fp AS (
                SELECT doc_id, source,
                       md5(array_to_string(
                           list_filter(string_split_regex(lower(text), '\\s+'),
                                       x -> len(x) > 0), ' ')) AS fp
                FROM documents
            ),
            ref AS (
                SELECT DISTINCT fp FROM fp
                WHERE source NOT IN ('src0', 'src1', 'src2')
            )
            SELECT doc_id, source
            FROM fp
            WHERE source IN ('src0', 'src1', 'src2')
              AND fp NOT IN (SELECT fp FROM ref)
        """,
        # gram positions are 1-based here (Spark side is 0-based); only
        # the covered token SET matters, so the bases cancel
        "dp_remove_spans": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> len(x) > 0) AS t
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       CASE WHEN len(t) >= 3
                            THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  FOR i IN range(1, len(t) - 1)]
                            ELSE [] END AS g
                FROM toks
            ),
            pd AS (
                SELECT doc_id, unnest(g) AS gram,
                       unnest(range(1, len(g) + 1)) AS gpos
                FROM grams
            ),
            dupg AS (
                SELECT gram FROM pd
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ),
            cov AS (
                SELECT DISTINCT doc_id, pos FROM (
                    SELECT pd.doc_id,
                           unnest(range(gpos, gpos + 3)) AS pos
                    FROM pd JOIN dupg USING (gram)
                )
            ),
            tp AS (
                SELECT doc_id, unnest(t) AS tok,
                       unnest(range(1, len(t) + 1)) AS pos
                FROM toks
            ),
            keptagg AS (
                SELECT tp.doc_id,
                       string_agg(tok, ' ' ORDER BY tp.pos) AS txt,
                       count(*) AS n_kept
                FROM tp LEFT JOIN cov
                  ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
                WHERE cov.doc_id IS NULL
                GROUP BY tp.doc_id
            )
            SELECT toks.doc_id,
                   coalesce(k.txt, '') AS text,
                   CAST(len(toks.t) AS INTEGER) AS n_tokens,
                   CAST(len(toks.t) - coalesce(k.n_kept, 0) AS BIGINT)
                       AS n_removed
            FROM toks LEFT JOIN keptagg k ON k.doc_id = toks.doc_id
        """,
        "dp_funnel": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS t
                FROM events WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 ON s1.user_id = e.user_id
                WHERE e.event_type = 'click'
                  AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL '86400 seconds'
                GROUP BY e.user_id
            ),
            s3 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s2 ON s2.user_id = e.user_id
                WHERE e.event_type = 'purchase'
                  AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL '86400 seconds'
                GROUP BY e.user_id
            )
            SELECT 1 AS step, 'view' AS event_type,
                   (SELECT count(*) FROM s1) AS n_users
            UNION ALL
            SELECT 2, 'click', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        """,
        "dp_retention": """
            WITH firsts AS (
                SELECT user_id, min(ts) AS f FROM events GROUP BY user_id
            ),
            cohorts AS (
                SELECT user_id, CAST(date_trunc('week', f) AS DATE) AS cohort
                FROM firsts
            ),
            sizes AS (
                SELECT cohort, count(*) AS n_cohort FROM cohorts GROUP BY cohort
            ),
            activity AS (
                SELECT DISTINCT c.cohort,
                       CAST(floor(date_diff('day', c.cohort,
                                            CAST(e.ts AS DATE)) / 7)
                            AS INTEGER) AS period,
                       e.user_id
                FROM events e JOIN cohorts c USING (user_id)
                WHERE date_diff('day', c.cohort, CAST(e.ts AS DATE)) / 7 < 6
            ),
            active AS (
                SELECT cohort, period, count(*) AS n_active
                FROM activity GROUP BY cohort, period
            )
            SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort,
                   a.period, s.n_cohort, a.n_active,
                   round(a.n_active * 1.0 / s.n_cohort, 9) AS retention
            FROM active a JOIN sizes s USING (cohort)
        """,
        # 4 unrolled color steps (2 iterations x 2 colors); every grid
        # vertex has a neighbor, so the aggMess-null branch never fires
        "belief_propagation": """
            WITH cells AS (
                SELECT i.range AS i, j.range AS j
                FROM range(5) i, range(5) j
            ),
            v AS (
                SELECT i || ',' || j AS id,
                       ((i * 5 + j) % 7 - 3) / 2.0 AS a,
                       (i + j) % 2 AS color
                FROM cells
            ),
            e AS (
                SELECT i || ',' || j AS src,
                       i || ',' || (j + 1) AS dst,
                       0.1 + 0.02 * ((i + j + 1) % 3) AS b
                FROM cells WHERE j < 4
                UNION ALL
                SELECT i || ',' || j AS src,
                       (i + 1) || ',' || j AS dst,
                       0.1 + 0.02 * ((i + j) % 3) AS b
                FROM cells WHERE i < 4
            ),
            und AS (
                SELECT src AS x, dst AS y, b FROM e
                UNION ALL
                SELECT dst AS x, src AS y, b FROM e
            ),
            b0 AS (SELECT id, a, color, 0.0 AS belief FROM v),
            b1 AS (
                SELECT p.id, p.a, p.color,
                       CASE WHEN p.color = 0
                            THEN 1.0 / (1.0 + exp(-(p.a + m.s)))
                            ELSE p.belief END AS belief
                FROM b0 p JOIN (
                    SELECT und.x AS id, sum(und.b * q.belief) AS s
                    FROM und JOIN b0 q ON q.id = und.y GROUP BY und.x
                ) m ON m.id = p.id
            ),
            b2 AS (
                SELECT p.id, p.a, p.color,
                       CASE WHEN p.color = 1
                            THEN 1.0 / (1.0 + exp(-(p.a + m.s)))
                            ELSE p.belief END AS belief
                FROM b1 p JOIN (
                    SELECT und.x AS id, sum(und.b * q.belief) AS s
                    FROM und JOIN b1 q ON q.id = und.y GROUP BY und.x
                ) m ON m.id = p.id
            ),
            b3 AS (
                SELECT p.id, p.a, p.color,
                       CASE WHEN p.color = 0
                            THEN 1.0 / (1.0 + exp(-(p.a + m.s)))
                            ELSE p.belief END AS belief
                FROM b2 p JOIN (
                    SELECT und.x AS id, sum(und.b * q.belief) AS s
                    FROM und JOIN b2 q ON q.id = und.y GROUP BY und.x
                ) m ON m.id = p.id
            ),
            b4 AS (
                SELECT p.id, p.a, p.color,
                       CASE WHEN p.color = 1
                            THEN 1.0 / (1.0 + exp(-(p.a + m.s)))
                            ELSE p.belief END AS belief
                FROM b3 p JOIN (
                    SELECT und.x AS id, sum(und.b * q.belief) AS s
                    FROM und JOIN b3 q ON q.id = und.y GROUP BY und.x
                ) m ON m.id = p.id
            )
            SELECT id, round(belief, 6) AS belief FROM b4
        """,
        "dp_lm_score": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> len(x) > 0) AS t
                FROM documents
            ),
            doc_bi AS (
                SELECT doc_id, unnest(
                    CASE WHEN len(t) >= 2
                         THEN [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
                         ELSE [] END) AS bg
                FROM toks
            ),
            split_bi AS (
                SELECT doc_id, bg,
                       string_split(bg, ' ')[1] AS w1,
                       string_split(bg, ' ')[2] AS w2
                FROM doc_bi
            ),
            bi_counts AS (SELECT bg, count(*) AS c12 FROM doc_bi GROUP BY bg),
            uni_counts AS (SELECT w1, count(*) AS c1 FROM split_bi GROUP BY w1),
            v AS (SELECT count(DISTINCT w2) AS v FROM split_bi),
            scored AS (
                SELECT s.doc_id,
                       ln((b.c12 + 1.0) / (u.c1 + 1.0 * (SELECT v FROM v)))
                           AS logp
                FROM split_bi s
                JOIN bi_counts b ON b.bg = s.bg
                JOIN uni_counts u ON u.w1 = s.w1
            ),
            agg AS (
                SELECT doc_id, count(*) AS n_bigrams, avg(logp) AS avg_logp
                FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   round(a.avg_logp, 9) AS avg_logp
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
        # context windowing (|Δi| in 1..window), signed accumulation and
        # L2 norm replay in SQL; only the 25 (index, sign) blake2b hash
        # values are precomputed literals (DuckDB has no blake2b)
        "hash2vec": f"""
            WITH seq AS (
                SELECT n_regionkey AS walk,
                       CAST(n_nationkey AS VARCHAR) AS tok,
                       row_number() OVER (PARTITION BY n_regionkey
                                          ORDER BY n_nationkey) AS i
                FROM nation
            ),
            h(token, idx, sgn) AS (VALUES {_hash2vec_literal_rows()}),
            pairs AS (
                SELECT t.tok AS target, c.tok AS ctx
                FROM seq t JOIN seq c
                  ON t.walk = c.walk AND abs(t.i - c.i) BETWEEN 1 AND 2
            ),
            contrib AS (
                SELECT p.target, hh.idx, sum(hh.sgn) AS v
                FROM pairs p JOIN h hh ON hh.token = p.ctx
                GROUP BY p.target, hh.idx
            ),
            dense AS (
                SELECT s.tok AS id, CAST(r.range AS INTEGER) AS pos,
                       coalesce(c.v, 0.0) AS v
                FROM (SELECT DISTINCT tok FROM seq) s
                CROSS JOIN range(8) r
                LEFT JOIN contrib c ON c.target = s.tok AND c.idx = r.range
            ),
            norms AS (SELECT id, sqrt(sum(v * v)) AS nrm FROM dense GROUP BY id)
            SELECT d.id, d.pos,
                   round(CASE WHEN n.nrm > 0 THEN d.v / n.nrm ELSE d.v END,
                         9) AS val
            FROM dense d JOIN norms n USING (id)
        """,
        # the Bloom prefilter has no false negatives, so the streaming
        # operator's output equals the exact inverted-index semantics
        "dp_stream_contamination": f"""
            WITH sh AS ({_DOC_SHINGLES_SQL})
            SELECT a.doc_id AS doc_id, b.doc_id AS ref_doc_id,
                   CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared
            FROM sh a JOIN sh b
              ON b.doc_id % 7 = 0 AND a.doc_id <> b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) >= 2
        """,
        # one full SVD++ gradient iteration unrolled: md5 init (slots
        # 2,3 = column1; 4,5 = column2 at rank 2), phase-1 implicit fold
        # (users only), clamped-error gradients, per-vertex message sums
        "svdpp_full": f"""
            WITH e AS (
                SELECT o_custkey AS src, o_orderkey + {ORDER_OFFSET} AS dst,
                       o_totalprice / 100000.0 AS w
                FROM orders
            ),
            mu AS (SELECT avg(w) AS u FROM e),
            ends AS (
                SELECT src AS id, w FROM e UNION ALL SELECT dst, w FROM e
            ),
            t0 AS (SELECT id, count(*) AS cnt, sum(w) AS s FROM ends GROUP BY id),
            init AS (
                SELECT id,
                       ('0x' || substr(md5(CAST(id AS VARCHAR) || '_2'), 1, 12))::BIGINT % 1000000 / 1000000.0 AS p0,
                       ('0x' || substr(md5(CAST(id AS VARCHAR) || '_3'), 1, 12))::BIGINT % 1000000 / 1000000.0 AS p1,
                       ('0x' || substr(md5(CAST(id AS VARCHAR) || '_4'), 1, 12))::BIGINT % 1000000 / 1000000.0 AS y0,
                       ('0x' || substr(md5(CAST(id AS VARCHAR) || '_5'), 1, 12))::BIGINT % 1000000 / 1000000.0 AS y1,
                       s / cnt - (SELECT u FROM mu) AS b,
                       1.0 / sqrt(cnt) AS nrm
                FROM t0
            ),
            t1 AS (
                SELECT e.src AS id, sum(i.y0) AS sy0, sum(i.y1) AS sy1
                FROM e JOIN init i ON i.id = e.dst GROUP BY e.src
            ),
            ph1 AS (
                SELECT i.id, i.p0, i.p1,
                       CASE WHEN t1.id IS NULL THEN i.y0
                            ELSE i.nrm * t1.sy0 + i.p0 END AS c20,
                       CASE WHEN t1.id IS NULL THEN i.y1
                            ELSE i.nrm * t1.sy1 + i.p1 END AS c21,
                       i.b, i.nrm
                FROM init i LEFT JOIN t1 ON t1.id = i.id
            ),
            trip AS (
                SELECT e.src, e.dst, e.w,
                       s.p0, s.p1, s.c20 AS u20, s.c21 AS u21,
                       s.b AS bu, s.nrm,
                       d.p0 AS q0, d.p1 AS q1, d.c20 AS y0, d.c21 AS y1,
                       d.b AS bi
                FROM e
                JOIN ph1 s ON s.id = e.src
                JOIN ph1 d ON d.id = e.dst
            ),
            gr AS (
                SELECT *,
                       w - least(greatest((SELECT u FROM mu) + bu + bi
                                          + q0 * u20 + q1 * u21, 0.0), 5.0)
                           AS er
                FROM trip
            ),
            msgs AS (
                SELECT src AS id,
                       (er * q0 - 0.015 * p0) * 0.007 AS m10,
                       (er * q1 - 0.015 * p1) * 0.007 AS m11,
                       (er * nrm * q0 - 0.015 * y0) * 0.007 AS m20,
                       (er * nrm * q1 - 0.015 * y1) * 0.007 AS m21,
                       (er - 0.005 * bu) * 0.007 AS m3
                FROM gr
                UNION ALL
                SELECT dst,
                       (er * u20 - 0.015 * q0) * 0.007,
                       (er * u21 - 0.015 * q1) * 0.007,
                       (er * nrm * q0 - 0.015 * y0) * 0.007,
                       (er * nrm * q1 - 0.015 * y1) * 0.007,
                       (er - 0.005 * bi) * 0.007
                FROM gr
            ),
            agg AS (
                SELECT id, sum(m10) AS a10, sum(m11) AS a11,
                       sum(m20) AS a20, sum(m21) AS a21, sum(m3) AS a3
                FROM msgs GROUP BY id
            )
            SELECT h.id,
                   round(h.p0 + coalesce(a.a10, 0), 7) AS f0,
                   round(h.p1 + coalesce(a.a11, 0), 7) AS f1,
                   round(h.c20 + coalesce(a.a20, 0), 7) AS i0,
                   round(h.c21 + coalesce(a.a21, 0), 7) AS i1,
                   round(h.b + coalesce(a.a3, 0), 7) AS bias,
                   round(h.nrm, 8) AS norm
            FROM ph1 h LEFT JOIN agg a ON a.id = h.id
        """,
        # one survivor per fingerprint group; winner identity only where
        # the group is a singleton (first-wins order is pytest-verified)
        "dp_stream_near_dup": f"""
            WITH sh AS ({_DOC_SHINGLES_SQL}),
            fp AS (
                SELECT doc_id,
                       list_min(list_transform(sh, s -> md5(s))) AS minfp
                FROM sh
            )
            SELECT minfp,
                   CAST(count(*) AS BIGINT) AS group_size,
                   CASE WHEN count(*) = 1 THEN min(doc_id) END AS unique_doc_id
            FROM fp GROUP BY minfp
        """,
    }
