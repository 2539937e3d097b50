"""Round-6 optimization equivalence pins.

Each optimization rewrote an operator's internals while keeping its
declared result bit-identical; these tests pin the equivalences on
synthetic inputs (the full-output equivalence across sf0.001/0.01/0.1
was verified with scripts/snapshot_outputs.py during the round, and
tests/test_entry_parity.py keeps pinning every entry against DuckDB).
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_narrow_scoring_matches_explode_pipeline(spark):
    """The array-math bm25_scores must equal the old explode+join
    pipeline (re-created inline) term for term."""
    from marlin_spark.operators.bm25_df import (
        bm25_scores,
        simple_terms,
        tokens_df,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    query = "spark join table"
    terms = simple_terms(query)
    # old pipeline, verbatim shape
    toks = tokens_df(docs, "doc_id", "text")
    tf = toks.groupBy("_doc", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("_doc").agg(F.count("*").alias("dl"))
    qdf = spark.createDataFrame([(t,) for t in terms], "term string")
    stats = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n, avgdl = float(stats["n"]), float(stats["avgdl"])
    df_ = tf.join(F.broadcast(qdf), "term").groupBy("term").agg(
        F.count("*").alias("df")
    )
    k1, b = 1.2, 0.75
    old = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(df_), "term")
        .join(dl, "_doc")
        .withColumn(
            "idf", F.log((n - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        )
        .withColumn(
            "tsc",
            F.col("idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        )
        .groupBy("_doc")
        .agg(F.sum("tsc").alias("score"))
        .select(F.col("_doc").alias("doc_id"), F.round("score", 6).alias("score"))
    )
    new = bm25_scores(docs, query).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    o = {r["doc_id"]: r["score"] for r in old.collect()}
    m = {r["doc_id"]: r["score"] for r in new.collect()}
    assert o == m and len(m) > 0


def test_bm25_plan_is_exchange_free(spark):
    from marlin_spark.operators.bm25_df import bm25_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(bm25_topk(docs, "spark join", k=5))
    assert "Exchange" not in p and "Join" not in p
    assert "TakeOrderedAndProject" in p


def test_simhash_bit_sums_equal_substr_case_sums(spark):
    """The shiftright/bit-test sign sums must equal the hex-substr
    CASE..IN sums (the oracle formula) for arbitrary md5 hashes."""
    from marlin_spark.entry_queries import _SIMHASH_SUMS_SQL

    rows = [(i, f"w{i}x{i * 7}",) for i in range(200)]
    th = spark.createDataFrame(rows, "doc_id long, term string").select(
        "doc_id", F.expr("md5(term)").alias("h")
    )
    old_exprs = [
        F.expr(frag.strip().rstrip(","))
        for frag in _SIMHASH_SUMS_SQL.split("\n")
    ]
    old = th.groupBy("doc_id").agg(*old_exprs)
    new = th.withColumn(
        "v", F.expr("cast(conv(substr(h, 1, 8), 16, 10) as bigint)")
    ).groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN shiftright(v, {28 - 4 * (i // 4) + (i % 4)}) & 1 = 1 "
                f"THEN 1 ELSE -1 END)"
            ).alias(f"s{i}")
            for i in range(32)
        ]
    )
    o = sorted(tuple(r) for r in old.collect())
    m = sorted(tuple(r) for r in new.collect())
    assert o == m


def test_array_intersect_jaccard_equals_exploded_join(spark):
    """|array_intersect(sets)| == exploded-equi-join match count for the
    minhash verification (sets are distinct per doc by construction)."""
    data = [
        (1, ["a b c", "b c d", "c d e"]),
        (2, ["b c d", "c d e", "x y z"]),
        (3, ["p q r"]),
    ]
    kept = spark.createDataFrame(data, "doc_id long, ss array<string>")
    sh = kept.select("doc_id", F.explode("ss").alias("s"))
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "a long, b long"
    )
    shx = sh.select(F.col("doc_id").alias("a"), F.col("s").alias("sx"))
    shy = sh.select(F.col("doc_id").alias("b2"), F.col("s").alias("sy"))
    old = (
        cand.join(shx, "a")
        .join(shy, (F.col("b") == F.col("b2")) & (F.col("sx") == F.col("sy")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    ja = kept.select(F.col("doc_id").alias("a"), F.col("ss").alias("sa"))
    jb = kept.select(F.col("doc_id").alias("b"), F.col("ss").alias("sb"))
    new = cand.join(ja, "a").join(jb, "b").select(
        "a", "b", F.size(F.array_intersect("sa", "sb")).alias("inter")
    )
    o = {(r["a"], r["b"]): r["inter"] for r in old.collect()}
    m = {(r["a"], r["b"]): r["inter"] for r in new.collect() if r["inter"] > 0}
    assert o == m and o[(1, 2)] == 2


def _old_shingles(docs, id_col, text_col, n, max_df=None):
    """The pre-r6 _shingles shape, verbatim: explode -> distinct ->
    groupBy(s)+join-back cap."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.expr(f"filter(split(lower({text_col}), '[^a-z0-9]+'), t -> t <> '')").alias(
            "toks"
        ),
    )
    sh = toks.select(
        "_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN "
                f"transform(sequence(1, size(toks) - {n - 1}), "
                f"i -> concat_ws(' ', slice(toks, i, {n}))) "
                "ELSE CAST(array() AS array<string>) END"
            )
        ).alias("s"),
    ).distinct()
    if max_df is not None:
        keep = sh.groupBy("s").count().filter(F.col("count") <= max_df).select("s")
        sh = sh.join(keep, "s")
    return sh


@pytest.fixture(scope="module")
def shingle_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "the quick brown fox jumps over the lazy dog tonight now"),
        (4, "completely different text about spark and parquet files"),
        # repeated within-doc shingles (exercises array_distinct == distinct)
        (5, "a b c a b c a b c a b c d e f"),
        # duplicate id across rows (operator may NOT assume unique ids)
        (6, "shared id first half of the document text"),
        (6, "shared id second half of the document text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_window_cap_matches_join_back(spark, shingle_docs):
    from marlin_spark.operators.dedup import _shingles

    # compare by column NAME: the old join-back form emitted (s, _id),
    # the window form (_id, s) — consumers are all name-based
    for max_df in (None, 2, 3):
        old = sorted(
            (r["_id"], r["s"])
            for r in _old_shingles(
                shingle_docs, "doc_id", "text", 3, max_df=max_df
            ).collect()
        )
        new = sorted(
            (r["_id"], r["s"])
            for r in _shingles(
                shingle_docs, "doc_id", "text", 3, max_df=max_df
            ).collect()
        )
        assert old == new and len(new) > 0


def test_minhash_operator_matches_crossjoin_pipeline(spark, shingle_docs):
    """The single-aggregation signature build + sig-column bands +
    array_intersect verification must reproduce the pre-r6 crossJoin
    pipeline exactly — including a partial trailing band (band_size=3
    over 8 hashes) and duplicate input ids."""
    from marlin_spark.operators.dedup import minhash_lsh_pairs

    for n_hashes, band_size in ((8, 2), (8, 3)):
        sh = _old_shingles(shingle_docs, "doc_id", "text", 3, max_df=None)
        cnt = sh.groupBy("_id").agg(F.count("*").alias("n"))
        hashes = spark.range(n_hashes).select(F.col("id").cast("int").alias("h"))
        sigs = (
            sh.crossJoin(F.broadcast(hashes))
            .select(
                "_id",
                "h",
                F.expr("md5(concat(cast(h AS STRING), '|', s))").alias("hv"),
            )
            .groupBy("_id", "h")
            .agg(F.min("hv").alias("sig"))
        )
        bands = sigs.groupBy(
            "_id", (F.col("h") / band_size).cast("int").alias("band")
        ).agg(
            F.expr(
                "concat_ws('', transform(sort_array(collect_list(struct(h, sig))), "
                "x -> x.sig))"
            ).alias("bucket")
        )
        x, y = bands.alias("x"), bands.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x._id") < F.col("y._id")),
            )
            .select(F.col("x._id").alias("a"), F.col("y._id").alias("b"))
            .distinct()
        )
        shx = sh.select(F.col("_id").alias("a"), F.col("s").alias("sx"))
        shy = sh.select(F.col("_id").alias("b2"), F.col("s").alias("sy"))
        pr = (
            cand.join(shx, "a")
            .join(shy, (F.col("b") == F.col("b2")) & (F.col("sx") == F.col("sy")))
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
        ca = cnt.select(F.col("_id").alias("a"), F.col("n").alias("na"))
        cb = cnt.select(F.col("_id").alias("b"), F.col("n").alias("nb"))
        j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        old = {
            (r["a"], r["b"]): round(r["jaccard"], 9)
            for r in pr.join(ca, "a")
            .join(cb, "b")
            .filter(j >= 0.3)
            .select("a", "b", j.alias("jaccard"))
            .collect()
        }
        new = {
            (r["a"], r["b"]): round(r["jaccard"], 9)
            for r in minhash_lsh_pairs(
                shingle_docs,
                threshold=0.3,
                n_hashes=n_hashes,
                band_size=band_size,
                max_shingle_df=None,
            ).collect()
        }
        assert old == new and (1, 2) in new


def test_cc_dedup_edges_off_matches_on_with_duplicate_pairs(spark):
    """dedup_edges=False must give identical components even when the
    caller lies and passes duplicate pairs (min-label is idempotent);
    the lazy initial-labels path must also converge identically."""
    from marlin_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 2), (5, 6), (2, 3), (7, 8), (6, 7)],
        "a long, b long",
    )
    on = {
        r["node"]: r["component"]
        for r in connected_components(pairs, dedup_edges=True).collect()
    }
    off = {
        r["node"]: r["component"]
        for r in connected_components(pairs, dedup_edges=False).collect()
    }
    assert on == off == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 5, 8: 5}


def test_ann_planner_norm_and_row_norm_bit_identical(spark):
    """_py_norm must equal the JVM fold bit-for-bit on arbitrary float
    vectors, and the row-norm-before-join near-dup cosine must equal
    the per-pair cosine() form exactly."""
    import random as _r

    from marlin_spark.operators import ann

    rng = _r.Random(11)
    vecs = [
        [rng.uniform(-2, 2) for _ in range(64)] for _ in range(20)
    ]
    rows = [(i, i % 3, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    jvm_norms = {
        r["vec_id"]: r["n"]
        for r in df.select(
            "vec_id", ann.norm(F.col("embedding")).alias("n")
        ).collect()
    }
    for i, v in enumerate(vecs):
        assert ann._py_norm(v) == jvm_norms[i]  # exact, not approx
    # per-pair cosine() == dot/(na*nb) with norms computed pre-join
    old = df.alias("x").join(df.alias("y"), F.col("x.vec_id") < F.col("y.vec_id"))
    old = {
        (r["a"], r["b"]): r["c"]
        for r in old.select(
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
            ann.cosine(F.col("x.embedding"), F.col("y.embedding")).alias("c"),
        ).collect()
    }
    new = {
        (r["a"], r["b"]): r["cos"]
        for r in ann.near_dup_pairs(df, threshold=-2.0, block_col="label").collect()
    }
    assert new and all(old[k] == new[k] for k in new)  # exact doubles


def test_jpeg_huffman_lut_matches_bitreader_walk():
    """The 2^16 LUT decode must emit the same symbol stream as the
    canonical bit-by-bit _BitReader walk over random bitstreams, for
    all four Annex K tables (and agree on where the stream dies)."""
    import numpy as np

    from marlin_spark.multimodal.jpeg import (
        _AC_CHR_BITS, _AC_CHR_VALS, _AC_LUM_BITS, _AC_LUM_VALS,
        _BitReader, _DC_CHR_BITS, _DC_CHR_VALS, _DC_LUM_BITS,
        _DC_LUM_VALS, _build_huffman, _huffman_lut,
    )

    rng = np.random.default_rng(7)
    for bits, vals in (
        (_DC_LUM_BITS, _DC_LUM_VALS), (_DC_CHR_BITS, _DC_CHR_VALS),
        (_AC_LUM_BITS, _AC_LUM_VALS), (_AC_CHR_BITS, _AC_CHR_VALS),
    ):
        table = _build_huffman(bits, vals)
        lut = _huffman_lut(bytes(bits), bytes(vals))
        data = rng.integers(0, 256, 400, dtype=np.uint8).tobytes()
        # reference walk
        rd = _BitReader(data)
        ref, ref_err = [], False
        try:
            for _ in range(600):
                ref.append(rd.decode(table))
        except ValueError:
            ref_err = True
        # LUT walk with the decoder's window math
        got, got_err, pos = [], False, 0
        padded = data + b"\x00" * 8
        for _ in range(len(ref) + (1 if ref_err else 0)):
            idx = pos >> 3
            chunk = padded[idx:idx + 6]
            if len(chunk) < 6:
                chunk = chunk + b"\x00" * (6 - len(chunk))
            window = (
                int.from_bytes(chunk, "big") >> (16 - (pos & 7))
            ) & 0xFFFFFFFF
            e = lut[window >> 16]
            if e == 0:
                got_err = True
                break
            got.append(e >> 8)
            pos += e & 0xFF
        assert got == ref and got_err == ref_err


def test_jpeg_entropy_segments_match_byte_loop():
    """The vectorized destuffer must equal the original byte loop on
    stuffing, restart, truncation and degenerate inputs."""
    from marlin_spark.multimodal.jpeg import _entropy_segments

    def old(scan):
        out, i, n, segs = bytearray(), 0, len(scan), []
        while i < n:
            b = scan[i]
            if b != 0xFF:
                out.append(b)
                i += 1
                continue
            nxt = scan[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                out.append(0xFF)
                i += 2
            elif 0xD0 <= nxt <= 0xD7:
                segs.append(bytes(out))
                out.clear()
                i += 2
            else:
                break
        segs.append(bytes(out))
        return segs

    cases = [
        b"",
        b"\x01\x02\x03",
        b"ab\xff\x00cd",
        b"ab\xff\xd0cd\xff\xd1ef",
        b"\xff\x00\xff\xd0\xff\x00\xff\xd9trailing",
        b"data\xff",
        b"\xff\xff\x00",
        b"x\xff\xd7\xff\xd0y\xff\x00\xff\xc0junk",
    ]
    for scan in cases:
        assert list(_entropy_segments(scan)) == old(scan), scan


def test_jpeg_idct_matmul_matches_einsum():
    """Batched matmul IDCT must produce the SAME rounded uint8 pixels
    as the einsum form across extreme random coefficient blocks."""
    import numpy as np

    from marlin_spark.multimodal.jpeg import _DCT_M

    rng = np.random.default_rng(1)
    blocks = rng.integers(-1024, 1024, (8192, 8, 8)).astype(np.float64)
    blocks *= rng.integers(1, 255, (1, 8, 8)).astype(np.float64)
    a = np.einsum("ij,njk,kl->nil", _DCT_M.T, blocks, _DCT_M)
    b = (_DCT_M.T @ blocks) @ _DCT_M
    assert np.abs(a - b).max() < 1e-8
    ra = np.clip(np.round(a) + 128, 0, 255).astype(np.uint8)
    rb = np.clip(np.round(b) + 128, 0, 255).astype(np.uint8)
    assert (ra == rb).all()


def test_phrase_adjacency_array_form(spark):
    """zip_with-shifted-tail adjacency == positional self-join on a case
    with repeated tokens and a boundary-position phrase."""
    rows = [
        (1, "table hash join"),          # phrase at start
        (2, "join table hash"),          # phrase at end
        (3, "table x hash"),             # not adjacent
        (4, "hash table hash table hash"),  # adjacency across repeats
        (5, ""),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    toks = "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    adjacent = F.expr(
        f"exists(zip_with({toks}, slice({toks}, 2, greatest(size({toks}) - 1, 0)), "
        "(a, b) -> a = 'table' AND b = 'hash'), x -> x)"
    )
    got = sorted(r["doc_id"] for r in d.filter(adjacent).collect())
    assert got == [1, 2, 4]


def test_round_spark_double_twin_bit_identical(spark):
    """_round_spark_double must match F.round(double, 6) bit-for-bit —
    it moves the IVF probe selection planner-side, so any rounding
    divergence would silently change which buckets a query probes."""
    import random

    from marlin_spark.entry_queries import _round_spark_double

    rng = random.Random(7)
    xs = [rng.uniform(-2, 2) * 10 ** rng.randint(-8, 3) for _ in range(5000)]
    xs += [0.1234565, -0.1234565, 1.0000005, -1.0000005, 2.5e-7, -2.5e-7,
           0.0, -0.0, 5e-7, -5e-7, 1.4999995, -1.4999995]
    rows = spark.createDataFrame([(x,) for x in xs], "x double").select(
        "x", F.round("x", 6).alias("r")
    ).collect()
    for r in rows:
        assert repr(_round_spark_double(r["x"])) == repr(r["r"]), (
            r["x"], r["r"], _round_spark_double(r["x"])
        )


def test_round_spark_double_passes_non_finite_through(spark):
    """±inf and nan come back unchanged, as Spark's round returns them
    (Decimal would raise on quantize)."""
    import math

    from marlin_spark.entry_queries import _round_spark_double

    xs = [math.inf, -math.inf, math.nan]
    rows = spark.createDataFrame([(x,) for x in xs], "x double").select(
        F.round("x", 6).alias("r")
    ).collect()
    for x, r in zip(xs, rows):
        got = _round_spark_double(x)
        assert repr(got) == repr(x) == repr(r["r"])


def test_ivf_probe_planner_side_matches_spark_job(spark):
    """The planner-side probe selection (python dot/norm/round over the
    collected centroids) must pick the same nprobe cids, in the same
    order, as the old in-plan formulation (scan + score + orderBy +
    limit) it replaced."""
    from marlin_spark.entry_queries import (
        _IVF_C,
        _IVF_NPROBE,
        _dot_lit,
        _dot_py,
        _emb,
        _norm_col,
        _norm_py,
        _round_spark_double,
        _vecs_rows,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = _emb(spark, sf)
        vecs = _vecs_rows(spark, sf, range(_IVF_C + 1))
        q, cents = vecs[0], vecs[1:]
        emb = F.col("embedding")
        old = [
            int(r["cid"])
            for r in (
                e.filter(F.col("vec_id").between(1, _IVF_C))
                .select(
                    F.col("vec_id").alias("cid"),
                    F.round(_dot_lit(emb, q) / _norm_col(emb), 6).alias("s"),
                )
                .orderBy(F.desc("s"), F.asc("cid"))
                .limit(_IVF_NPROBE)
                .collect()
            )
        ]
        new = [
            cid
            for _, cid in sorted(
                (
                    (-_round_spark_double(_dot_py(c, q) / _norm_py(c)), i)
                    for i, c in enumerate(cents, start=1)
                )
            )[:_IVF_NPROBE]
        ]
        assert old == new, (sf, old, new)
