"""Dedup family, LWW reducer properties, text pipeline, similarity search."""

import re

import pyspark.sql.functions as F

from embulk_input_marketo_spark.functions import similarity, textops
from embulk_input_marketo_spark.operators import dedup_docs
from embulk_input_marketo_spark.operators.dedup import lww_dedup


def test_lww_salted_equals_unsalted(spark):
    """Salting must not change the winner (associativity/commutativity)."""
    rows = [
        ("k1", 10, 1, "a"), ("k1", 10, 2, "b"), ("k1", 9, 3, "c"),
        ("k2", 5, 4, "d"), ("k2", 6, 1, "e"),
        ("hot", 1, 5, "x1"), ("hot", 2, 6, "x2"), ("hot", 2, 7, "x3"),
    ] * 50  # duplicate delivery too
    df = spark.createDataFrame(rows, ["k", "ts", "lsn", "v"])
    plain = {r["k"]: (r["ts"], r["lsn"], r["v"])
             for r in lww_dedup(df, "k", ["ts", "lsn"]).collect()}
    salted = {r["k"]: (r["ts"], r["lsn"], r["v"])
              for r in lww_dedup(df, "k", ["ts", "lsn"], salt_buckets=7).collect()}
    assert plain == salted
    assert plain["k1"] == (10, 2, "b")      # ts major, lsn tiebreak
    assert plain["k2"] == (6, 1, "e")       # later ts wins despite smaller lsn
    assert plain["hot"] == (2, 7, "x3")


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "The  cat"), (2, "the cat "), (3, "a dog"), (4, "A DOG"), (5, "unique")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["group_size"] for r in dedup_docs.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 2, 5: 1}


def test_minhash_lsh_finds_duplicates(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zz"  # ~98% shingle overlap
    far = " ".join(f"q{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], ["doc_id", "text"]
    )
    pairs = {
        (r["left_id"], r["right_id"])
        for r in dedup_docs.minhash_lsh_pairs(df, num_hashes=32, bands=16).collect()
    }
    assert (1, 2) in pairs            # identical must collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup should land in a band
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs
    verified = dedup_docs.ngram_jaccard(
        spark.createDataFrame(sorted(pairs), ["left_id", "right_id"]), df,
        n=3, threshold=0.999,
    )
    assert {(r["left_id"], r["right_id"]) for r in verified.collect()} == {(1, 2)}


def test_simhash_identical_collide_distinct_differ(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "zeta eta theta iota kappa lambda")],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["simhash"] for r in dedup_docs.simhash(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_extract_text_byte_identical(spark):
    html = "<html><head><title>t</title></head><body><p>héllo   wörld</p></body></html>"
    df = spark.createDataFrame([(1, html.encode("utf-8"))], ["id", "html"])
    out = df.select(textops.extract_text("html").alias("t")).collect()[0]["t"]
    assert out == "t héllo wörld"
    assert out.encode("utf-8") == "t héllo wörld".encode("utf-8")
    # null-safe
    df2 = spark.createDataFrame([(1, None)], "id: long, html: binary")
    assert df2.select(textops.extract_text("html").alias("t")).collect()[0]["t"] is None


def test_text_metrics(spark):
    df = spark.createDataFrame([(1, "The cat and the dog!  "), (2, "")],
                               ["id", "text"])
    out = df.select(
        textops.token_count("text").alias("n"),
        textops.lang_id("text").alias("lang"),
        textops.quality_score("text").alias("q"),
    ).collect()
    assert out[0]["n"] == 5
    assert out[0]["lang"] == "en"
    assert 0.0 <= out[0]["q"] <= 1.0
    assert out[1]["n"] == 0 and out[1]["lang"] == "und"


def test_brute_force_topk_and_ann(spark):
    import math

    vecs = [(i, [math.cos(i * 0.1 + d) for d in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.brute_force_topk(emb, q, k=5)
    rows = top.orderBy("rnk").collect()
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["cos_sim"] - 1.0) < 1e-6
    assert len(rows) == 5
    ann = similarity.ann_topk(emb, q, dim=8, k=5, n_planes=6)
    arows = ann.orderBy("rnk").collect()
    assert arows and arows[0]["vec_id"] == 0  # the query itself always shares its bucket


def test_multimodal_plumbing(spark):
    from embulk_input_marketo_spark.functions.multimodal import (
        binary_metadata,
        decode_and_featurize_images,
    )

    df = spark.createDataFrame(
        [(1, b"\x89PNGxxxx"), (2, b"ab"), (3, None)], "doc_id: long, payload: binary"
    )
    meta = {r["doc_id"]: r for r in binary_metadata(df, "payload").collect()}
    assert meta[1]["n_bytes"] == 8 and meta[2]["n_bytes"] == 2
    assert meta[3]["n_bytes"] is None
    dec = {r["doc_id"]: r for r in
           decode_and_featurize_images(df, "payload").collect()}
    assert dec[1]["n_channels"] == 3 and len(dec[1]["features"]) == 8
    assert dec[3]["width"] is None


# --- Catalyst extract_text ≡ row-regex reference ---------------------------

_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(rb"\s+")


def _extract_text_rows(html):
    """The semantics definition: regex on bytes, then decode with
    errors='replace' (python's maximal-subpart U+FFFD substitution)."""
    if html is None:
        return None
    collapsed = _WS_RE.sub(b" ", _TAG_RE.sub(b" ", bytes(html))).strip()
    return collapsed.decode("utf-8", errors="replace")


def _assert_catalyst_equals_rows(spark, rows):
    df = spark.createDataFrame(list(enumerate(rows)), "i: long, html: binary")
    got = dict(df.select("i", textops.extract_text("html")).collect())
    for i, html in enumerate(rows):
        ref = _extract_text_rows(html)
        assert got[i] == ref, (html, ref, got[i])


_XT_EDGES = [
    None, b"", b"<html><body><p>hello  world</p></body></html>",
    b"no tags at all", b"unmatched < bracket", b"a\tb\nc\x0bd\x0c e",
    b"<a href='x'>link</a> trailing   ", b"   \t lead",
    "multiébyte <b>café</b>".encode(),
    b"<>empty<> tag", b"< >", b"a<b", b"<a<b>", b"a>b<c>", b"<a>>",
    "emoji \U0001F600 <i>in</i> text".encode(),
    b"\x0b only vertical\x0btab", b"<t\nag>across lines</t\nag>",
    b"<", b">", b"<>", b" ", b"x", None, b"", None,
    b"end with space ", b" <a> ", b"a<", b"a<b> <c",
    b"bad \xff utf8 <b>x</b>",
]


def test_extract_text_catalyst_equals_row_reference_edges(spark):
    _assert_catalyst_equals_rows(spark, _XT_EDGES)


def test_extract_text_catalyst_fuzz_equals_row_reference(spark):
    """Malformed UTF-8 (truncated, surrogate, overlong, out-of-range, lone
    continuation, invalid lead), NUL, and the non-ASCII spaces NEL, NBSP and
    U+3000 — which are NOT whitespace to the bytes reference."""
    import random

    rng = random.Random(20260819)
    alphabet = [b"<", b">", b" ", b"\t", b"\n", b"\x0b", b"\x0c", b"\r",
                b"a", b"bb", b"\xc3\xa9", b"\xff", b"</p>", b"<b>",
                b"\xc3", b"\xe2\x82", b"\xed\xa0\x80", b"\xc0\xaf",
                b"\xf4\x90\x80\x80", b"\x80", b"\xfe", b"\x00",
                b"\xc2\x85", b"\xc2\xa0", b"\xe3\x80\x80"]
    rows = [
        None if rng.random() < 0.05 else b"".join(
            rng.choice(alphabet) for _ in range(rng.randrange(0, 40))
        )
        for _ in range(4000)
    ]
    _assert_catalyst_equals_rows(spark, rows)


def test_chunk_documents_exact_windows(spark):
    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(words)),      # 10 tokens → starts 0,2,4,6 at size=4/overlap=2
         (2, "a b c d"),            # exactly size → one chunk
         (3, "solo"),               # shorter than size → one short chunk
         (4, "   "),                # blank → no chunks
         (5, None)],                # null → no chunks
        ["doc_id", "text"],
    )
    out = textops.chunk_documents(df, "text", size=4, overlap=2)
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
           for r in out.collect()}
    assert got == {
        (1, 0): ("w0 w1 w2 w3", 4),
        (1, 1): ("w2 w3 w4 w5", 4),
        (1, 2): ("w4 w5 w6 w7", 4),
        (1, 3): ("w6 w7 w8 w9", 4),
        (2, 0): ("a b c d", 4),
        (3, 0): ("solo", 1),
    }
    # coverage + overlap invariants on a non-multiple length
    df2 = spark.createDataFrame([(9, " ".join(words[:9]))], ["doc_id", "text"])
    rows = sorted(
        textops.chunk_documents(df2, "text", size=4, overlap=2).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["chunk_text"] for r in rows] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8"
    ]
    assert rows[-1]["n_tokens"] == 3  # last chunk short, never empty
    import pytest
    with pytest.raises(ValueError):
        textops.chunk_documents(df, "text", size=4, overlap=4)
