"""Tests for the LLM-data-pipeline tier (datapipe package)."""

import hashlib

import pytest
from pyspark.sql import functions as F

import graphframes_spark.datapipe as dp


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "spark dataframes shuffle partitions at scale"),
        (4, "spark dataframes shuffle partitions at scale"),  # exact dup of 3
        (5, "completely different words entirely here now today ok"),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


# ------------------------------------------------------------------- text


def test_tokenize_and_counts(spark):
    df = spark.createDataFrame([(1, "Hello  World foo")], ["id", "text"])
    row = df.select(
        dp.tokenize(F.col("text")).alias("t"),
        dp.token_count(F.col("text")).alias("n"),
        dp.token_count_bpe(F.lit("don't stop 123!")).alias("b"),
    ).first()
    assert row["t"] == ["hello", "world", "foo"]
    assert row["n"] == 3
    # don | ' | t | stop | 123 | !
    assert row["b"] == 6


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["id", "text"])
    row = df.select(dp.shingles(dp.tokenize(F.col("text")), 3).alias("s")).first()
    assert row["s"] == ["a b c", "b c d"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")], ["id", "text"]
    )
    fps = [r["f"] for r in df.select(dp.fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]
    assert fps[0] == hashlib.md5(b"hello world").hexdigest()


def test_quality_scores(docs):
    out = dp.with_quality_scores(docs)
    row = out.filter("id = 1").first()
    assert row["n_tokens"] == 9
    assert row["keep"] is True
    assert 0.0 <= row["stopword_ratio"] <= 1.0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der hund ist nicht auf das sofa und die katze"),
            (3, "xyzzy qwerty asdf"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r["l"] for r in df.select("id", dp.language_id(F.col("text")).alias("l")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


# ------------------------------------------------------------------ dedup


def test_exact_dedup(docs):
    out = {r["id"]: (r["canonical_id"], r["group_size"]) for r in dp.exact_dedup(docs, ["text"]).collect()}
    assert out[3] == (3, 2) and out[4] == (3, 2)
    assert out[1] == (1, 1)


def test_minhash_lsh_dedup(docs):
    comp = {r["id"]: r["component"] for r in dp.minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert comp[3] == comp[4]        # exact dups always group
    assert comp[1] == comp[2]        # near-dups at jaccard >= 0.5
    assert comp[5] not in (comp[1], comp[3])


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dp.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (3, 4) in pairs and (1, 2) in pairs
    assert all(5 not in p for p in pairs)


def test_simhash_identical_and_pairs(docs):
    sh = docs.select("id", dp.simhash48(dp.tokenize(F.col("text"))).alias("s"))
    vals = {r["id"]: r["s"] for r in sh.collect()}
    assert vals[3] == vals[4]
    pairs = {(r["id_a"], r["id_b"]) for r in dp.simhash_pairs(docs, max_hamming=7).collect()}
    assert (3, 4) in pairs


def test_simhash_pairs_96_bit_lossless(spark):
    """96-bit mode (the scale knob for corpora beyond the 48-bit bucket
    space) must equal a pure-Python brute force over the FULL 96-bit
    hamming distance — the pigeonhole banding is lossless by construction
    and identical-text docs always pair."""
    import hashlib

    docs = [(i, f"alpha beta gamma delta epsilon zeta doc{i // 3}") for i in range(30)]
    df = spark.createDataFrame(docs, ["id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in dp.simhash_pairs(df, max_hamming=7, num_bands=8, num_bits=96).collect()
    }

    def sig96(text):
        votes = [0] * 96
        for t in set(text.split()):
            h = hashlib.md5(t.encode()).hexdigest()
            w0, w1 = int(h[0:12], 16), int(h[12:24], 16)
            for i in range(48):
                votes[i] += 1 if (w0 >> i) & 1 else -1
                votes[48 + i] += 1 if (w1 >> i) & 1 else -1
        return sum(1 << i for i, x in enumerate(votes) if x > 0)

    sigs = {i: sig96(t) for i, t in docs}
    brute = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 7
    }
    assert got == brute and (0, 1) in got  # same-text triple pairs up


def test_embedding_cosine_pairs_and_dedup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~same direction as 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
        (4, [-1.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(rows, ["id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]) for r in dp.embedding_cosine_pairs(df, threshold=0.95).collect()}
    assert pairs == {(1, 2)}
    comp = {r["id"]: r["component"] for r in dp.embedding_dedup(df, threshold=0.95).collect()}
    assert comp[1] == comp[2] and len({comp[1], comp[3], comp[4]}) == 3


def test_embedding_pairs_default_plan_has_no_cartesian(spark):
    """The default (banded LSH) candidate path must never degrade to an
    all-pairs join — the scale contract for 100 TB corpora."""
    rows = [(i, [float(i % 7) - 3.0, float(i % 5), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, ["id", "embedding"])
    out = dp.embedding_cosine_pairs(df, threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # explicit opt-in still reaches the exact quadratic baseline
    exact = dp.embedding_cosine_pairs(df, threshold=0.9, bucket_planes=0)
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" in exact_plan or "BroadcastNestedLoopJoin" in exact_plan
    # banded candidates are a subset of the exact pairs (no false accepts)
    banded_pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert banded_pairs <= exact_pairs


# ------------------------------------------------------------- similarity


@pytest.fixture(scope="module")
def vec_corpus(spark):
    import math

    rows = []
    for i in range(40):
        angle = (i % 8) * math.pi / 16
        rows.append((i, [math.cos(angle), math.sin(angle), i * 0.001]))
    return spark.createDataFrame(rows, ["id", "embedding"])


def test_brute_force_topk(vec_corpus):
    out = dp.brute_force_topk(vec_corpus, vec_corpus.filter("id = 0"), k=3)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in out.collect())
    assert len(rows) == 3
    # nearest neighbors of id 0 (angle 0) are the other angle-0 vectors (8, 16, 24, 32)
    assert {r[1] % 8 for r in rows} == {0}


def test_lsh_topk_subset_of_corpus(vec_corpus):
    out = dp.lsh_topk(vec_corpus, vec_corpus.filter("id < 3"), k=3, num_planes=4)
    rows = out.collect()
    assert all(1 <= r["rank"] <= 3 for r in rows)
    # lsh candidates share the query's bucket; top-1 of query 0 must still
    # be an angle-0 vector (same bucket by construction)
    top1 = [r for r in rows if r["query_id"] == 0 and r["rank"] == 1]
    assert not top1 or top1[0]["neighbor_id"] % 8 == 0


def test_ivf_topk(vec_corpus):
    out = dp.ivf_topk(vec_corpus, vec_corpus.filter("id = 1"), k=3, num_cells=4, nprobe=2)
    rows = out.collect()
    assert 0 < len(rows) <= 3
    assert {r["query_id"] for r in rows} == {1}


def test_ivf_topk_deterministic(vec_corpus):
    kw = dict(k=3, num_cells=4, nprobe=2, deterministic=True)
    a = dp.ivf_topk(vec_corpus, vec_corpus.filter("id = 1"), **kw).collect()
    b = dp.ivf_topk(vec_corpus, vec_corpus.filter("id = 1"), **kw).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # bit-stable
    assert 0 < len(a) <= 3
    # with nprobe = num_cells the deterministic path degenerates to exact
    # brute force: same neighbors as brute_force_topk in the same order
    full = dp.ivf_topk(
        vec_corpus, vec_corpus.filter("id = 1"),
        k=3, num_cells=4, nprobe=4, deterministic=True,
    ).collect()
    brute = dp.brute_force_topk(vec_corpus, vec_corpus.filter("id = 1"), k=3).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, brute))


def test_ivf_deterministic_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "id long, embedding array<double>")
    one = spark.createDataFrame([(1, [1.0, 0.0])], "id long, embedding array<double>")
    few = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(5)],
        "id long, embedding array<double>",
    )
    assert dp.ivf_topk(empty, one, k=3, num_cells=4, deterministic=True).count() == 0
    # more cells than corpus rows: every row is its own (singleton) cell;
    # nprobe=2 singleton cells minus the self row leaves exactly 1 neighbor
    assert (
        dp.ivf_topk(few, few.filter("id = 0"), k=3, num_cells=16, deterministic=True)
        .count() == 1
    )
    # self is always excluded, so a 1-row corpus yields nothing
    assert dp.ivf_topk(one, one, k=3, num_cells=2, deterministic=True).count() == 0


# ------------------------------------------------------------- multimodal


def test_with_binary_metadata(spark):
    df = spark.createDataFrame([(1, "hello")], ["id", "text"])
    row = dp.with_binary(df, "text").first()
    assert bytes(row["payload"]) == b"hello"
    assert row["meta"]["byte_len"] == 5
    assert row["meta"]["sha256"] == hashlib.sha256(b"hello").hexdigest()
    assert row["meta"]["mime"] == "text/plain"


def test_extract_features_plumbing(spark):
    df = dp.with_binary(
        spark.createDataFrame([(1, "ab"), (2, "abcd")], ["id", "text"]), "text"
    )
    out = {r["id"]: r["features"] for r in dp.extract_features(df).collect()}
    assert set(out) == {1, 2}
    for feats in out.values():
        assert len(feats) == 16
        assert abs(sum(feats) - 1.0) < 1e-9
    # deterministic fake decoder: 'a'=97 -> bin 1, 'b'=98 -> bin 2
    assert out[1][97 % 16] == 0.5 and out[1][98 % 16] == 0.5


def test_unavailable_decoder_raises(spark):
    df = dp.with_binary(spark.createDataFrame([(1, "x")], ["id", "text"]), "text")
    from graphframes_spark.datapipe.multimodal import unavailable_decoder

    with pytest.raises(Exception):
        dp.extract_features(df, decoder=unavailable_decoder).collect()


def _wav_bytes(samples, framerate=8000):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_wav_audio_decoder_real_codec(spark):
    """End-to-end REAL decode (stdlib wave, no stub): loud first half,
    silent second half -> energy features drop across windows."""
    loud = [10000 if i % 2 else -10000 for i in range(800)] + [0] * 800
    quiet = [100 if i % 2 else -100 for i in range(1600)]
    rows = [(1, bytearray(_wav_bytes(loud))), (2, bytearray(_wav_bytes(quiet)))]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {
        r["id"]: r["features"]
        for r in dp.extract_features(
            df, decoder=dp.wav_audio_decoder(dim=4), dim=4
        ).collect()
    }
    assert set(out) == {1, 2}
    # doc 1: first two windows loud (=1.0 after peak-norm), last two silent
    assert out[1][0] == pytest.approx(1.0) and out[1][3] == pytest.approx(0.0)
    # doc 2: constant amplitude -> all windows at the peak
    assert all(f == pytest.approx(1.0) for f in out[2])


def test_wav_audio_decoder_rejects_garbage():
    with pytest.raises(Exception):
        dp.wav_audio_decoder()(b"not a wav file")


_HAS_PIL = True
try:  # adapters are optional-import; tests gate on availability
    import PIL  # noqa: F401
except ImportError:
    _HAS_PIL = False

_HAS_SF = True
try:
    import soundfile  # noqa: F401
except ImportError:
    _HAS_SF = False


@pytest.mark.skipif(_HAS_PIL, reason="PIL installed: error path not reachable")
def test_pil_adapters_raise_clear_error_when_absent():
    from graphframes_spark.util import GraphFramesError

    with pytest.raises(GraphFramesError, match="pillow"):
        dp.pil_image_decoder()
    with pytest.raises(GraphFramesError, match="pillow"):
        dp.pil_resizer()


@pytest.mark.skipif(_HAS_SF, reason="soundfile installed: error path not reachable")
def test_soundfile_adapter_raises_clear_error_when_absent():
    from graphframes_spark.util import GraphFramesError

    with pytest.raises(GraphFramesError, match="soundfile"):
        dp.soundfile_audio_decoder()


@pytest.mark.skipif(not _HAS_PIL, reason="PIL not installed")
def test_pil_decoder_and_resizer_real_codec(spark):
    import io

    from PIL import Image

    def png(color, size=(8, 8)):
        buf = io.BytesIO()
        Image.new("L", size, color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [(1, bytearray(png(0))), (2, bytearray(png(255)))]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {
        r["id"]: r["features"]
        for r in dp.extract_features(
            df, decoder=dp.pil_image_decoder(dim=16), dim=16
        ).collect()
    }
    assert out[1][0] == pytest.approx(1.0)  # all-black -> lowest bin
    assert out[2][15] == pytest.approx(1.0)  # all-white -> highest bin
    resized = dp.resize_images(df, width=2, height=3, resizer=dp.pil_resizer())
    r = resized.filter("id = 1").first()
    img = Image.open(io.BytesIO(bytes(r["resized"])))
    assert img.size == (2, 3)


def test_repetition_stats(spark):
    rows = [(1, "a b a b a"), (2, "x y z w"), (3, "q"), (4, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dp.repetition_stats(df, n=2).collect()}
    # doc 1 bigrams: [a b, b a, a b, b a] -> 4 total, 2 distinct, frac 0.5
    assert out[1]["n_ngrams"] == 4 and out[1]["n_distinct_ngrams"] == 2
    assert abs(out[1]["dup_ngram_frac"] - 0.5) < 1e-9
    assert out[2]["dup_ngram_frac"] == 0.0
    # shorter than n tokens: zero grams, fraction 0 (no descending-sequence crash)
    assert out[3]["n_ngrams"] == 0 and out[4]["n_ngrams"] == 0


def test_ngram_overlap_decontamination(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),
            (2, "lazy dogs sleep all day long"),
            (3, "the quick brown fox naps here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "see the quick brown fox jumps")], ["doc_id", "text"]
    )
    out = {
        (r["doc_id"], r["ref_doc_id"]): r["n_shared"]
        for r in dp.ngram_overlap(docs, bench, n=3).collect()
    }
    # doc 1 shares "the quick brown", "quick brown fox", "brown fox jumps"
    assert out[(1, 100)] == 3
    # doc 3 shares the first two only; doc 2 shares nothing
    assert out[(3, 100)] == 2
    assert (2, 100) not in out
    # min_shared filter
    strict = dp.ngram_overlap(docs, bench, n=3, min_shared=3)
    assert {r["doc_id"] for r in strict.collect()} == {1}


# -------------------------------------------------------------- sampling


def test_balanced_sample_exact_and_salt_invariant(spark):
    rows = [(i, "g%d" % (i % 3)) for i in range(90)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, ["id", "grp"])
    unsalted = dp.balanced_sample(df, "grp", 5, "id", seed="s", salt=None)
    salted = dp.balanced_sample(df, "grp", 5, "id", seed="s", salt=7)
    a = sorted(map(tuple, unsalted.collect()))
    b = sorted(map(tuple, salted.collect()))
    # the tournament width changes the plan, never the selected rows
    assert a == b
    per_group = {r["grp"]: r["n"] for r in
                 salted.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert per_group == {"g0": 5, "g1": 5, "g2": 5, "tiny": 1}
    # deterministic: rerun matches; a different seed draws a different sample
    assert sorted(map(tuple, dp.balanced_sample(
        df, "grp", 5, "id", seed="s", salt=7).collect())) == b
    other = sorted(map(tuple, dp.balanced_sample(
        df, "grp", 5, "id", seed="t", salt=7).collect()))
    assert other != b


def test_balanced_sample_matches_md5_order(spark):
    df = spark.createDataFrame([(i, "g") for i in range(20)], ["id", "grp"])
    got = {r["id"] for r in dp.balanced_sample(df, "grp", 3, "id", seed="x").collect()}
    want = set(sorted(
        range(20),
        key=lambda i: (hashlib.md5(f"x\x1f{i}".encode()).hexdigest(), i),
    )[:3])
    assert got == want


def test_source_rollup(spark):
    rows = [
        (1, "s1", "the quick brown fox jumps over the lazy dog"),
        (2, "s1", "the quick brown fox jumps over the lazy dog"),  # exact dup
        (3, "s1", "spark dataframes shuffle partitions at scale today"),
        (4, "s2", "x"),  # fails the quality keep heuristic (n_tokens < 5)
    ]
    df = spark.createDataFrame(rows, ["id", "source", "text"])
    out = {r["source"]: r for r in
           dp.source_rollup(df, group_cols=("source",)).collect()}
    assert out["s1"]["n_docs"] == 3 and out["s1"]["n_unique"] == 2
    assert abs(out["s1"]["dup_rate"] - (1 - 2 / 3)) < 1e-9
    assert out["s1"]["keep_rate"] == 1.0
    assert out["s2"]["keep_rate"] == 0.0 and out["s2"]["dup_rate"] == 0.0
    # HLL variant keeps the same schema and exact counts agree at this size
    approx = {r["source"]: r for r in dp.source_rollup(
        df, group_cols=("source",), exact_distinct=False).collect()}
    assert approx["s1"]["n_docs"] == 3


def test_pack_documents_single_shard_layout(spark):
    rows = [(i, " ".join(["w"] * 10)) for i in range(1, 8)]  # 10 tokens each
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dp.pack_documents(df, max_tokens=25, num_shards=1).collect()
    assert len(out) == 7
    by_id = {r["doc_id"]: r for r in out}
    # one continuous 70-token stream cut every 25: starts at 0,10,...,60
    starts = sorted((r["bin"] * 25 + r["bin_pos"]) for r in out)
    assert starts == [0, 10, 20, 30, 40, 50, 60]
    # straddles iff floor((end-1)/25) > floor(start/25): of the starts
    # {0..60 step 10} only [20,30) crosses a 25-boundary mid-doc ([40,50)
    # and [60,70) end exactly at/before the next cut)
    straddlers = sorted(
        r["bin"] * 25 + r["bin_pos"] for r in out if r["straddles"]
    )
    assert straddlers == [20]


def test_pack_documents_determinism_and_shards(spark):
    rows = [(i, " ".join(["t"] * (i % 5 + 1))) for i in range(1, 40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc_id"]: (r["shard"], r["bin"], r["bin_pos"])
         for r in dp.pack_documents(df, 16, num_shards=4).collect()}
    b = {r["doc_id"]: (r["shard"], r["bin"], r["bin_pos"])
         for r in dp.pack_documents(df, 16, num_shards=4).collect()}
    assert a == b
    assert len({s for s, _, _ in a.values()}) > 1  # really sharded
    # every bin_pos is within the budget
    assert all(0 <= p < 16 for _, _, p in a.values())


def test_dedup_corpus_exact(spark):
    rows = [
        (1, "the quick brown fox"),
        (2, "The  QUICK brown fox"),   # same normalized content
        (3, "the quick brown fox !!"), # different content (extra token)
        (4, "totally different"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dp.dedup_corpus(df, method="exact").collect()}
    assert out[1]["dedup_group"] == out[2]["dedup_group"]
    assert out[3]["dedup_group"] != out[1]["dedup_group"]
    # tie on quality (4 tokens each) -> smallest id kept
    assert out[1]["keep"] is True and out[2]["keep"] is False
    assert out[3]["keep"] is True and out[4]["keep"] is True
    # explicit quality column wins over token count
    df2 = df.withColumn("score", F.col("doc_id").cast("double"))
    out2 = {
        r["doc_id"]: r["keep"]
        for r in dp.dedup_corpus(df2, method="exact", quality_col="score").collect()
    }
    assert out2[2] is True and out2[1] is False


def test_dedup_corpus_minhash_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " ok"),  # near-dup of 1
        (3, "completely unrelated text about spark dataframes and shuffles"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dp.dedup_corpus(df, method="minhash", threshold=0.5).collect()
    }
    assert out[1]["dedup_group"] == out[2]["dedup_group"]
    assert out[3]["dedup_group"] != out[1]["dedup_group"]
    # doc 2 is one token longer -> kept
    assert out[2]["keep"] is True and out[1]["keep"] is False
    assert out[3]["keep"] is True
    from graphframes_spark.util import GraphFramesError

    with pytest.raises(GraphFramesError):
        dp.dedup_corpus(df, method="bogus")


def test_remove_boilerplate_lines(spark):
    footer = "subscribe to our newsletter"
    rows = [
        (1, f"unique alpha\n{footer}\ncontent one"),
        (2, f"{footer}\ncontent two"),
        (3, f"content three\n{footer}"),
        (4, "no footer here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    boiler = dp.boilerplate_segments(df, min_doc_frac=0.5)
    assert [r["segment"] for r in boiler.collect()] == [footer]
    out = {r["doc_id"]: r for r in dp.remove_boilerplate(df, min_doc_frac=0.5).collect()}
    assert out[1]["text"] == "unique alpha\ncontent one"
    assert out[2]["text"] == "content two"
    assert out[3]["text"] == "content three"
    assert out[4]["text"] == "no footer here"
    assert out[1]["n_segments"] == 3 and out[1]["n_removed"] == 1
    assert out[4]["n_removed"] == 0


def test_remove_boilerplate_whitespace_and_empty(spark):
    # whitespace-only segments are never boilerplate; a doc that is all
    # boilerplate collapses to ""
    rows = [(1, "x\n\nx"), (2, "x"), (3, "x\nkeep")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dp.remove_boilerplate(df, min_doc_frac=0.9, min_doc_count=2).collect()
    }
    assert out[1]["text"] == "" and out[1]["n_removed"] == 2
    assert out[1]["n_segments"] == 3  # the empty middle line is kept
    assert out[2]["text"] == ""
    assert out[3]["text"] == "keep"


def test_remove_boilerplate_min_doc_count_guard(spark):
    # 1 of 2 docs = 50% but below min_doc_count=3 -> kept
    rows = [(1, "hello\nworld"), (2, "hello\nthere")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["text"]
        for r in dp.remove_boilerplate(df, min_doc_frac=0.5, min_doc_count=3).collect()
    }
    assert out == {1: "hello\nworld", 2: "hello\nthere"}


def test_corpus_profile(spark):
    rows = [
        (1, "s1", "a b"),          # 2 tokens, 3 chars
        (2, "s1", "a b c d"),      # 4 tokens, 7 chars
        (3, "s1", "a b c d e f"),  # 6 tokens, 11 chars
        (4, "s2", "one"),          # 1 token, 3 chars
    ]
    df = spark.createDataFrame(rows, ["id", "source", "text"])
    out = {
        r["source"]: r
        for r in dp.corpus_profile(df, percentiles=(0.5,)).collect()
    }
    assert out["s1"]["n_docs"] == 3
    assert abs(out["s1"]["tokens_p50"] - 4.0) < 1e-9
    assert abs(out["s1"]["chars_p50"] - 7.0) < 1e-9
    assert abs(out["s2"]["tokens_p50"] - 1.0) < 1e-9
    # interpolation between order stats: p75 of [2,4,6] = 5
    out2 = {
        r["source"]: r
        for r in dp.corpus_profile(df, percentiles=(0.75,)).collect()
    }
    assert abs(out2["s1"]["tokens_p75"] - 5.0) < 1e-9
    # sketched variant keeps the schema
    approx = dp.corpus_profile(df, percentiles=(0.5,), exact=False)
    assert approx.columns == ["source", "n_docs", "tokens_p50", "chars_p50"]


def test_chunk_documents(spark):
    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
        (2, "a b c"),                               # shorter than one window
        (3, ""),                                    # empty -> no chunks
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dp.chunk_documents(df, size=6, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: stride 4, admissible starts 0 and 4 (start 8's window t8..t9
    # is fully inside chunk 1's t4..t9, so it is dropped)
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [c["chunk_idx"] for c in chunks] == [0, 1]
    assert chunks[0]["chunk_text"] == "t0 t1 t2 t3 t4 t5"
    assert chunks[0]["n_chunk_tokens"] == 6
    assert chunks[1]["chunk_text"] == "t4 t5 t6 t7 t8 t9"
    assert chunks[1]["n_chunk_tokens"] == 6
    # overlap: chunk 1 repeats the last `overlap` tokens of chunk 0
    assert chunks[0]["chunk_text"].split()[-2:] == chunks[1]["chunk_text"].split()[:2]
    # doc 2: one whole-document chunk
    assert len(by_doc[2]) == 1
    assert by_doc[2][0]["chunk_text"] == "a b c"
    assert by_doc[2][0]["n_chunk_tokens"] == 3
    # doc 3: no chunks
    assert 3 not in by_doc
    # every token of every doc is covered by some chunk
    covered = set()
    for c in chunks:
        covered.update(c["chunk_text"].split())
    assert covered == {f"t{i}" for i in range(10)}


def test_chunk_documents_validation(spark):
    from graphframes_spark.util import GraphFramesError

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(GraphFramesError):
        dp.chunk_documents(df, size=0)
    with pytest.raises(GraphFramesError):
        dp.chunk_documents(df, size=4, overlap=4)
    with pytest.raises(GraphFramesError):
        dp.chunk_documents(df, size=4, overlap=-1)


# ------------------------------------------- normalization / PII / TF-IDF


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! (42) \t spark--sql  ")], ["id", "text"]
    )
    out = df.select(dp.normalize_text(F.col("text")).alias("n")).collect()[0]["n"]
    assert out == "hello world 42 spark sql"


def test_redact_pii_crafted(spark):
    rows = [
        (1, "contact alice.smith+x@example.co.uk or bob@test.io today"),
        (2, "server at 192.168.0.1 and 10.0.0.255 responded"),
        (3, "call 555-867-5309 or 123.456.7890 now"),
        (4, "clean text with no sensitive content at all"),
        (5, "mix: a@b.com from 8.8.8.8 dialed 800-555-1212"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dp.redact_pii(df).collect()}
    assert out[1]["n_emails"] == 2 and "<EMAIL>" in out[1]["redacted_text"]
    assert "alice" not in out[1]["redacted_text"]
    assert out[2]["n_ips"] == 2 and out[2]["redacted_text"].count("<IP>") == 2
    assert out[3]["n_phones"] == 2 and "<PHONE>" in out[3]["redacted_text"]
    assert out[4]["redacted_text"] == rows[3][1]
    assert (out[4]["n_emails"], out[4]["n_ips"], out[4]["n_phones"]) == (0, 0, 0)
    assert (out[5]["n_emails"], out[5]["n_ips"], out[5]["n_phones"]) == (1, 1, 1)


def test_tfidf_top_terms(spark):
    rows = [
        (1, "apple apple banana shared"),
        (2, "banana cherry shared"),
        (3, "cherry durian shared shared"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dp.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score"]))
    # 'shared' is in all docs -> idf 0 -> never outranks unique terms
    # doc1: apple tf=2 idf=ln(3) = 2.197; banana tf=1 idf=ln(1.5)
    top1 = sorted(by_doc[1])[0]
    assert top1[1] == "apple"
    import math

    assert abs(top1[2] - round(2 * math.log(3), 6)) < 1e-9
    # doc3: durian (unique, tf=1) beats shared (idf 0) despite tf=2
    assert sorted(by_doc[3])[0][1] == "durian"
    ranks = [r for r, _, _ in by_doc[2]]
    assert sorted(ranks) == [1, 2]

    from graphframes_spark.util import GraphFramesError

    with pytest.raises(GraphFramesError):
        dp.tfidf_top_terms(df, k=0)


def test_quantize_embeddings(spark):
    rows = [
        (1, [0.5, -1.0, 0.25]),
        (2, [0.0, 0.0, 0.0]),
        (3, [2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in dp.quantize_embeddings(df).collect()}
    assert out[1]["qvec"] == [64, -127, 32]   # round(0.5*127)=64 (63.5 HALF_UP)
    assert abs(out[1]["scale"] - 1.0 / 127.0) < 1e-12
    assert out[2]["qvec"] == [0, 0, 0] and out[2]["scale"] == 0.0
    assert out[3]["qvec"] == [127]
    # dequantization error bounded by scale/2 per element
    deq = [q * out[1]["scale"] for q in out[1]["qvec"]]
    for got, want in zip(deq, rows[0][1]):
        assert abs(got - want) <= out[1]["scale"] / 2 + 1e-12


def test_split_corpus_deterministic_and_disjoint(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    out = dp.split_corpus(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="s")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 1500 < counts["train"] < 1700          # ~1600 expected
    # rerun identical
    again = dp.split_corpus(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="s")
    assert out.exceptAll(again).count() == 0
    # growing the corpus never moves an existing key
    bigger = dp.split_corpus(
        spark.createDataFrame([(i,) for i in range(4000)], ["doc_id"]),
        "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="s",
    ).filter(F.col("doc_id") < 2000)
    assert out.exceptAll(bigger).count() == 0
    # different seed draws a different assignment
    other = dp.split_corpus(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="t")
    assert out.exceptAll(other).count() > 0

    from graphframes_spark.util import GraphFramesError

    with pytest.raises(GraphFramesError):
        dp.split_corpus(df, "doc_id", {"train": 0.5, "val": 0.1})


def test_dedup_keep_best(spark):
    rows = [
        (1, "g1", 10), (2, "g1", 30), (3, "g1", 30),   # g1: best = id 2 (q tie -> min id)
        (4, "g2", 5),                                   # singleton keeps
    ]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "q"])
    out = {r["doc_id"]: r["keep"] for r in dp.dedup_keep_best(df, "grp", "q", "doc_id").collect()}
    assert out == {1: False, 2: True, 3: False, 4: True}


# ------------------------------------------------------ duplicate spans


def test_duplicate_spans_cross_doc(spark):
    from graphframes_spark.datapipe import duplicate_spans

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "a quick brown fox runs"),
            (3, "the quick brown fox jumps quick brown fox jumps"),
            (4, "totally different text here"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["gram"]: (r["n_docs"], r["n_occurrences"])
        for r in duplicate_spans(df, n=3, min_docs=2).collect()
    }
    # "quick brown fox" in docs 1, 2, 3 (twice in 3) -> 3 docs, 4 occurrences
    assert rows["quick brown fox"] == (3, 4)
    # "brown fox jumps" in docs 1 and 3 (twice in 3) -> 2 docs, 3 occurrences
    assert rows["brown fox jumps"] == (2, 3)
    # single-doc grams are filtered out
    assert "totally different text" not in rows
    assert "brown fox runs" not in rows


def test_duplicate_spans_short_docs_no_grams(spark):
    from graphframes_spark.datapipe import duplicate_spans

    df = spark.createDataFrame([(1, "one two"), (2, "one two")], ["doc_id", "text"])
    assert duplicate_spans(df, n=3, min_docs=2).count() == 0
    # at n=2 the shared bigram is found
    rows = duplicate_spans(df, n=2, min_docs=2).collect()
    assert len(rows) == 1 and rows[0]["gram"] == "one two"


# --------------------------------------------------- word frequencies


def test_word_frequencies_zipf_table(spark):
    from graphframes_spark.datapipe import word_frequencies

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b z")], ["doc_id", "text"]
    )
    rows = {r["token"]: r for r in word_frequencies(df).collect()}
    assert rows["a"]["count"] == 4 and rows["a"]["rank"] == 1
    assert rows["b"]["count"] == 3 and rows["b"]["rank"] == 2
    # ties (c, z both 1) break alphabetically for stable ranks
    assert rows["c"]["rank"] == 3 and rows["z"]["rank"] == 4
    assert rows["a"]["frequency"] == pytest.approx(4 / 9)
    # min_count prunes the hapax tail
    from graphframes_spark.datapipe import word_frequencies as wf

    assert {r["token"] for r in wf(df, min_count=2).collect()} == {"a", "b"}


# ------------------------------------------------- temperature sampling


def test_temperature_sample_flattens_mix(spark):
    from graphframes_spark.datapipe import temperature_sample

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = temperature_sample(
        df, temperature=0.5, target_frac=0.5, key_col="doc_id", seed="t"
    )
    by_src = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # tau=0.5 weights: sqrt(900)=30, sqrt(100)=10 -> shares 3/4, 1/4 of
    # the 500-doc target => ~375 big, ~125 capped at 100 for small
    assert by_src["small"] == 100  # rate capped at 1.0 -> keeps all
    assert 300 <= by_src["big"] <= 450  # hash noise around 375
    # determinism: same seed, same rows
    again = temperature_sample(
        df, temperature=0.5, target_frac=0.5, key_col="doc_id", seed="t"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_temperature_sample_tau_one_is_uniform_rate(spark):
    from graphframes_spark.datapipe import temperature_sample

    rows = [(i, "x") for i in range(200)] + [(i + 500, "y") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = temperature_sample(df, temperature=1.0, target_frac=0.4, key_col="doc_id")
    # tau=1: natural proportions -> every source keeps ~target_frac
    n = kept.count()
    assert 120 <= n <= 200


def test_temperature_sample_validation(spark):
    from graphframes_spark.datapipe import temperature_sample
    from graphframes_spark.util import GraphFramesError

    df = spark.createDataFrame([(1, "s")], ["doc_id", "source"])
    with pytest.raises(GraphFramesError):
        temperature_sample(df, temperature=0.0)
    with pytest.raises(GraphFramesError):
        temperature_sample(df, target_frac=1.5)


def test_dup_span_coverage(spark):
    from graphframes_spark.datapipe import dup_span_coverage

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),       # 3 grams, 2 duplicated
            (2, "a quick brown fox runs"),          # 3 grams, 1 duplicated
            (3, "the quick brown fox jumps again"), # 4 grams, 3 duplicated
            (4, "nothing shared at all here"),      # 3 grams, 0 duplicated
            (5, "xx"),                              # < n tokens -> 0 grams
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dup_span_coverage(df, n=3, min_docs=2).collect()}
    assert out[1]["n_grams"] == 3 and out[1]["n_dup_grams"] == 3
    assert out[2]["n_grams"] == 3 and out[2]["n_dup_grams"] == 1
    assert out[3]["n_grams"] == 4 and out[3]["n_dup_grams"] == 3
    assert out[4]["n_dup_grams"] == 0 and out[4]["dup_coverage"] == 0.0
    assert out[5]["n_grams"] == 0 and out[5]["dup_coverage"] == 0.0
    assert out[1]["dup_coverage"] == pytest.approx(1.0)


def test_dup_span_coverage_within_doc_repeat_not_flagged(spark):
    from graphframes_spark.datapipe import dup_span_coverage

    # "b c d" repeats inside doc 1 only -> not duplicated across docs
    df = spark.createDataFrame(
        [(1, "b c d x b c d"), (2, "u v w z")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in dup_span_coverage(df, n=3, min_docs=2).collect()}
    assert out[1]["n_dup_grams"] == 0


def test_ivf_index_parquet_roundtrip(spark, tmp_path):
    from graphframes_spark.datapipe import build_ivf_index, ivf_search, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one_call = ivf_topk(
        emb, emb.limit(8), k=3, num_cells=4, nprobe=2, id_col="vec_id"
    )
    assigned, centroids = build_ivf_index(emb, num_cells=4, id_col="vec_id")
    assigned.write.partitionBy("_cell").parquet(str(tmp_path / "ivf"))
    centroids.write.parquet(str(tmp_path / "cent"))
    assigned2 = spark.read.parquet(str(tmp_path / "ivf"))
    centroids2 = spark.read.parquet(str(tmp_path / "cent"))
    reloaded = ivf_search(
        assigned2, centroids2, emb.limit(8), k=3, nprobe=2, id_col="vec_id"
    )
    assert sorted(map(tuple, one_call.collect())) == sorted(
        map(tuple, reloaded.collect())
    )


# ------------------------------------------------------- bloom prefilter


def test_build_bloom_no_false_negatives(spark):
    vals = spark.createDataFrame([(f"v{i}",) for i in range(50)], ["x"])
    bloom = dp.build_bloom(vals, "x", num_bits=1 << 12, num_hashes=3)
    checked = (
        dp.attach_bloom(vals, bloom)
        .select(dp.might_contain(F.col("_bloom"), F.col("x"), bloom).alias("m"))
        .collect()
    )
    assert all(r["m"] for r in checked)  # members always pass


def test_build_bloom_rejects_misses_at_sane_sizing(spark):
    vals = spark.createDataFrame([(f"v{i}",) for i in range(50)], ["x"])
    bloom = dp.build_bloom(vals, "x", num_bits=1 << 14, num_hashes=4)
    others = spark.createDataFrame([(f"w{i}",) for i in range(200)], ["x"])
    hits = (
        dp.attach_bloom(others, bloom)
        .filter(dp.might_contain(F.col("_bloom"), F.col("x"), bloom))
        .count()
    )
    # 50 keys in 16384 bits, k=4 -> FP rate well under 1%; allow slack
    assert hits <= 4


def test_build_bloom_validation(spark):
    from graphframes_spark.util import GraphFramesError

    vals = spark.createDataFrame([("a",)], ["x"])
    with pytest.raises(GraphFramesError):
        dp.build_bloom(vals, "x", num_bits=100)  # not a multiple of 64
    with pytest.raises(GraphFramesError):
        dp.build_bloom(vals, "x", num_hashes=0)


def test_decontaminate_matches_exact_semantics(spark, docs):
    # ref = docs 1 and 3; doc 2 shares >= 2 3-grams with doc 1, doc 4
    # with doc 3; doc 5 shares nothing. Docs 1/3 survive (self excluded).
    ref = docs.filter(F.col("id").isin(1, 3))
    out = dp.decontaminate(
        docs, ref, n=3, min_shared=2, id_col="id",
        num_bits=1 << 10, num_hashes=3,
    )
    assert {r["id"] for r in out.collect()} == {1, 3, 5}


def test_decontaminate_exact_under_heavy_false_positives(spark, docs):
    # 64-bit filter: nearly every shingle is a bloom false positive, yet
    # the exact verify stage must keep the answer identical
    ref = docs.filter(F.col("id").isin(1, 3))
    out = dp.decontaminate(
        docs, ref, n=3, min_shared=2, id_col="id",
        num_bits=64, num_hashes=2,
    )
    assert {r["id"] for r in out.collect()} == {1, 3, 5}


def test_decontaminate_prebuilt_filter_reused(spark, docs):
    from graphframes_spark.datapipe.text import shingles, tokenize

    ref = docs.filter(F.col("id").isin(1, 3))
    ref_sh = ref.select(
        F.explode(shingles(tokenize(F.col("text")), 3)).alias("_sh")
    ).distinct()
    bloom = dp.build_bloom(ref_sh, "_sh", num_bits=1 << 12, num_hashes=3)
    out = dp.decontaminate(
        docs, ref, n=3, min_shared=2, id_col="id", bloom=bloom
    )
    assert {r["id"] for r in out.collect()} == {1, 3, 5}


# ---------------------------------------------------- cross-corpus dedup


def test_cross_corpus_dedup_exact(spark, docs):
    incoming = docs.filter(F.col("id").isin(3, 4, 5))
    reference = docs.filter(F.col("id").isin(1, 2, 3))
    out = dp.cross_corpus_dedup(incoming, reference, method="exact", id_col="id")
    # 3 and 4 duplicate reference doc 3's content; 5 is novel
    assert {r["id"] for r in out.collect()} == {5}
    assert out.columns == incoming.columns  # schema passthrough


def test_cross_corpus_dedup_minhash(spark, docs):
    incoming = docs.filter(F.col("id").isin(2, 5))
    reference = docs.filter(F.col("id").isin(1, 3))
    out = dp.cross_corpus_dedup(
        incoming, reference, method="minhash", id_col="id",
        shingle_len=3, num_perm=32, num_bands=16, threshold=0.5,
    )
    # doc 2 is a near-dup of reference doc 1 (J >= 0.5); doc 5 is novel
    assert {r["id"] for r in out.collect()} == {5}


def test_cross_corpus_dedup_minhash_short_documents(spark):
    # fewer tokens than shingle_len: no shingles, so never a candidate
    # (no empty-vs-empty Jaccard); method="exact" is the one for these
    incoming = spark.createDataFrame([(1, "hello world")], ["id", "text"])
    reference = spark.createDataFrame([(10, "hello world")], ["id", "text"])
    out = dp.cross_corpus_dedup(incoming, reference, method="minhash", id_col="id")
    assert {r["id"] for r in out.collect()} == {1}


def test_minhash_sigs_match_minhash_signature(spark, docs):
    from graphframes_spark.datapipe.dedup import _minhash_sigs

    got = {
        r["_id"]: list(r["_sig"])
        for r in _minhash_sigs(docs, "id", "text", 3, 32).collect()
    }
    want = {
        r["id"]: list(r["sig"])
        for r in docs.select(
            "id",
            dp.minhash_signature(
                dp.shingles(dp.tokenize(F.col("text")), 3), 32
            ).alias("sig"),
        ).collect()
    }
    assert got == want


def test_cross_corpus_dedup_never_drops_novel_reference_only_overlap(spark):
    # incoming docs that only duplicate EACH OTHER are all kept: the
    # operator compares against the reference, not within the batch
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")]
    incoming = spark.createDataFrame(rows, ["id", "text"])
    reference = spark.createDataFrame(
        [(9, "totally unrelated reference text")], ["id", "text"]
    )
    out = dp.cross_corpus_dedup(incoming, reference, method="exact", id_col="id")
    assert {r["id"] for r in out.collect()} == {1, 2}


def test_cross_corpus_dedup_validation(spark, docs):
    from graphframes_spark.util import GraphFramesError

    with pytest.raises(GraphFramesError):
        dp.cross_corpus_dedup(docs, docs, method="typo", id_col="id")


# ------------------------------------------------- duplicate-span removal


def test_remove_duplicate_spans(spark, docs):
    out = {
        r["id"]: r
        for r in dp.remove_duplicate_spans(
            docs, id_col="id", n=3, min_docs=2
        ).collect()
    }
    # docs 3/4 are exact dups: every 3-gram is shared -> fully removed
    assert out[3]["text"] == "" and out[3]["n_removed"] == 6
    assert out[4]["text"] == "" and out[4]["n_removed"] == 6
    # docs 1/2 share grams covering tokens 0..7; only the last token
    # ('dog' / 'cat') survives
    assert out[1]["text"] == "dog" and out[1]["n_removed"] == 8
    assert out[2]["text"] == "cat" and out[2]["n_removed"] == 8
    # doc 5 is unique: untouched (normalized), nothing removed
    assert out[5]["text"] == "completely different words entirely here now today ok"
    assert out[5]["n_removed"] == 0 and out[5]["n_tokens"] == 8


def test_remove_duplicate_spans_short_docs_pass_through(spark):
    rows = [(1, "too short"), (2, "too short")]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in dp.remove_duplicate_spans(df, id_col="id", n=3).collect()}
    # < n tokens -> zero grams -> nothing can be covered, even for dups
    assert out[1]["text"] == "too short" and out[1]["n_removed"] == 0


def test_remove_duplicate_spans_within_doc_repeat_kept(spark):
    # a gram repeated only WITHIN one document is not corpus-duplicated
    rows = [(1, "a b c a b c"), (2, "x y z w v u")]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in dp.remove_duplicate_spans(df, id_col="id", n=3).collect()}
    assert out[1]["n_removed"] == 0 and out[1]["text"] == "a b c a b c"


# ---------------------------------------------------- audited pipeline


def test_corpus_pipeline_single_pass_audit(spark, docs):
    from graphframes_spark.datapipe import CorpusPipeline, dedup_keep_best, fingerprint

    pipe = CorpusPipeline(
        [
            (
                "exact_dedup",
                lambda d: dedup_keep_best(
                    d.withColumn("fp", fingerprint(F.col("text"))), "fp", "id", "id"
                ).filter("keep").drop("fp", "keep"),
            ),
            ("drop_short", lambda d: d.filter(F.length("text") > 30)),
        ]
    )
    out = pipe.apply(docs)
    n_final = out.count()  # the single action
    rep = pipe.report()
    assert [r["stage"] for r in rep] == ["input", "exact_dedup", "drop_short"]
    assert rep[0]["rows"] == 5 and rep[0]["dropped"] == 0
    assert rep[1]["rows"] == 4 and rep[1]["dropped"] == 1  # doc 3==4 content
    assert rep[2]["rows"] == n_final
    assert rep[2]["dropped"] == rep[1]["rows"] - n_final


def test_corpus_pipeline_validation(spark):
    from graphframes_spark.datapipe import CorpusPipeline
    from graphframes_spark.util import GraphFramesError

    with pytest.raises(GraphFramesError):
        CorpusPipeline([])
    with pytest.raises(GraphFramesError):
        CorpusPipeline([("a", lambda d: d), ("a", lambda d: d)])
    p = CorpusPipeline([("a", lambda d: d)])
    with pytest.raises(GraphFramesError):
        p.report()


# ------------------------------------------------------------- funnel


def _events(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")


def test_funnel_counts_and_window(spark):
    from datetime import datetime as dt

    ev = _events(spark, [
        # user 1 completes A->B->C tightly
        (1, dt(2026, 1, 1, 0, 0), "A"), (1, dt(2026, 1, 1, 0, 30), "B"),
        (1, dt(2026, 1, 1, 1, 0), "C"),
        # user 2: B arrives outside the 1h window of A
        (2, dt(2026, 1, 1, 0, 0), "A"), (2, dt(2026, 1, 1, 2, 0), "B"),
        # user 3: B before A never counts (strict ordering)
        (3, dt(2026, 1, 1, 0, 30), "B"), (3, dt(2026, 1, 1, 1, 0), "A"),
    ])
    out = {r["step"]: (r["event_type"], r["n_users"]) for r in
           dp.funnel(ev, ["A", "B", "C"], within_seconds=3600).collect()}
    assert out == {1: ("A", 3), 2: ("B", 1), 3: ("C", 1)}


def test_funnel_first_touch_semantics_documented_miss(spark):
    from datetime import datetime as dt

    # greedy anchors at the FIRST A (t=0); the only B within 1h of the
    # later A (t=4h) is missed by design — this pins the documented
    # first-touch convention (and the oracle replays the same rule)
    ev = _events(spark, [
        (1, dt(2026, 1, 1, 0, 0), "A"),
        (1, dt(2026, 1, 1, 4, 0), "A"),
        (1, dt(2026, 1, 1, 4, 30), "B"),
    ])
    out = {r["step"]: r["n_users"] for r in
           dp.funnel(ev, ["A", "B"], within_seconds=3600).collect()}
    assert out == {1: 1, 2: 0}


def test_funnel_times_detail(spark):
    from datetime import datetime as dt

    ev = _events(spark, [
        (1, dt(2026, 1, 1, 0, 0), "A"), (1, dt(2026, 1, 1, 0, 10), "B"),
        (2, dt(2026, 1, 1, 0, 0), "A"),
    ])
    rows = {r["user_id"]: r for r in
            dp.funnel_times(ev, ["A", "B"], within_seconds=3600).collect()}
    assert rows[1]["t2"] is not None and rows[2]["t2"] is None


def test_funnel_validation(spark):
    from graphframes_spark.util import GraphFramesError

    ev = _events(spark, [])
    with pytest.raises(GraphFramesError):
        dp.funnel(ev, [], within_seconds=60)
    with pytest.raises(GraphFramesError):
        dp.funnel(ev, ["A"], within_seconds=0)


def test_retention_matrix(spark):
    from datetime import datetime as dt

    ev = _events(spark, [
        # user 1: first event Wed Jan 7 2026 -> cohort Mon Jan 5; active
        # again in period 1 and period 3
        (1, dt(2026, 1, 7), "A"), (1, dt(2026, 1, 13), "B"),
        (1, dt(2026, 1, 28), "A"),
        # user 2: same cohort week, never returns
        (2, dt(2026, 1, 9), "A"),
        # user 3: next cohort week
        (3, dt(2026, 1, 14), "A"),
    ])
    rows = {(str(r["cohort"]), r["period"]): r for r in
            dp.retention(ev, periods=4).collect()}
    c1, c2 = "2026-01-05", "2026-01-12"
    assert rows[(c1, 0)]["n_cohort"] == 2 and rows[(c1, 0)]["n_active"] == 2
    assert rows[(c1, 0)]["retention"] == 1.0
    assert rows[(c1, 1)]["n_active"] == 1 and rows[(c1, 1)]["retention"] == 0.5
    assert rows[(c1, 3)]["n_active"] == 1
    assert (c1, 2) not in rows  # sparse: no one active in period 2
    assert rows[(c2, 0)]["n_cohort"] == 1


def test_retention_validation(spark):
    from graphframes_spark.util import GraphFramesError

    ev = _events(spark, [])
    with pytest.raises(GraphFramesError):
        dp.retention(ev, periods=0)
    with pytest.raises(GraphFramesError):
        dp.retention(ev, period_days=0)


def test_explode_frames_plumbing(spark):
    rows = [(1, bytearray(b"0123456789abcdef")), (2, bytearray(b""))]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = dp.explode_frames(df, n_frames=4).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    # 4 evenly-sized frames for the non-empty payload, in order
    frames = sorted(by_id[1], key=lambda r: r["frame_idx"])
    assert [bytes(r["frame"]) for r in frames] == [b"0123", b"4567", b"89ab", b"cdef"]
    assert all(r["frame_meta"]["byte_len"] == 4 for r in frames)
    assert 2 not in by_id  # empty payload yields no frames
    with pytest.raises(Exception):
        dp.explode_frames(df, n_frames=0).collect()


def test_resize_images_plumbing(spark):
    rows = [(1, bytearray(b"abc")), (2, bytearray(b""))]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r["id"]: r for r in dp.resize_images(df, width=2, height=3).collect()}
    assert bytes(out[1]["resized"]) == b"abcabc"  # tiled to 6 bytes
    assert bytes(out[2]["resized"]) == bytes(6)   # empty -> zero raster
    meta = out[1]["resized_meta"]
    assert (meta["byte_len"], meta["width"], meta["height"]) == (6, 2, 3)
    with pytest.raises(Exception):
        dp.resize_images(df, width=0, height=3).collect()


# ---------------------------------------------------------- bigram LM


def test_bigram_lm_scores_hand_computed(spark):
    import math

    rows = [(1, "a b a b"), (2, "a b"), (3, "z q"), (4, "x")]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in dp.bigram_lm_scores(df, id_col="id").collect()}
    # model: bigrams {a b:3, b a:1, z q:1}; C(a·)=3, C(b·)=1, C(z·)=1; V={b,a,q}=3
    p_ab = (3 + 1) / (3 + 3)
    p_ba = (1 + 1) / (1 + 3)
    p_zq = (1 + 1) / (1 + 3)
    exp1 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_logp"] - round(exp1, 9)) < 1e-9
    assert abs(out[2]["avg_logp"] - round(math.log(p_ab), 9)) < 1e-9
    assert abs(out[3]["avg_logp"] - round(math.log(p_zq), 9)) < 1e-9
    # common-transition doc scores higher than the rare-transition doc
    assert out[2]["avg_logp"] > out[3]["avg_logp"]
    assert out[2]["perplexity"] < out[3]["perplexity"]
    # single-token doc: zero bigrams, NULL scores
    assert out[4]["n_bigrams"] == 0 and out[4]["avg_logp"] is None
