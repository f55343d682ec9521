"""Property-based tests (hypothesis — SURVEY.md §5.2 #4): parser fuzz for
the flow/CDR record grammars, codec round-trips and the text primitives
against pure Python. Each example set runs as ONE Spark job (lists of rows
per example) to keep wall time sane."""

import collections
import datetime

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from hadoop_stuff_spark.functions.codecs import (
    b64_gzip_decode_str,
    b64_gzip_encode,
    gzip_compress,
    gzip_decompress_str,
)
from hadoop_stuff_spark.functions.records import (
    format_flow_log,
    parse_cdr,
    parse_flow_log,
)

# grammar-safe field alphabets (the reference's format is delimiter-based;
# fields cannot contain their own delimiters — same constraint the real
# devices had)
name_st = st.text(alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-", min_size=1, max_size=12)
word_st = st.text(alphabet="abcdefghijklmnopqrstuvwxyz ", min_size=1, max_size=30).map(
    lambda s: " ".join(s.split()) or "x"
)
ip_st = st.tuples(*[st.integers(0, 255)] * 4).map(lambda t: ".".join(map(str, t)))
port_st = st.integers(1, 65535)
ts_st = st.datetimes(
    min_value=datetime.datetime(1995, 1, 1), max_value=datetime.datetime(2030, 1, 1)
).map(lambda d: d.replace(microsecond=0))

flow_row_st = st.fixed_dictionaries(
    {
        "pri": st.integers(0, 191),
        "ts": ts_st,
        "set_name": name_st,
        "user": name_st,
        "event": name_st,
        "proto": st.integers(0, 255),
        "proto_name": name_st,
        "application": name_st,
        "interface": name_st.map(lambda s: f"ge-{s}"),
        "src_ip": ip_st,
        "src_port": port_st,
        "dst_ip": ip_st,
        "dst_port": port_st,
        "message": word_st,
        "nat_ip": ip_st,
        "nat_port": port_st,
    }
)


@settings(max_examples=5, deadline=None)
@given(st.lists(flow_row_st, min_size=1, max_size=25))
def test_flow_log_format_parse_roundtrip(spark, rows):
    df = spark.createDataFrame(
        rows,
        "pri int, ts timestamp, set_name string, user string, event string, "
        "proto int, proto_name string, application string, interface string, "
        "src_ip string, src_port int, dst_ip string, dst_port int, "
        "message string, nat_ip string, nat_port int",
    )
    line = format_flow_log(*[F.col(c) for c in df.columns])
    parsed = df.select(line.alias("raw")).select(*parse_flow_log("raw", keep_raw=False))
    got = [r.asDict() for r in parsed.collect()]
    # order-insensitive compare on all 16 fields
    key = lambda d: tuple(str(d[k]) for k in sorted(d))
    assert sorted(map(key, got)) == sorted(map(key, rows))


text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=4000
)


@settings(max_examples=5, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=20))
def test_gzip_and_b64_roundtrip_any_text(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t: string")
    out = df.select(
        "t",
        gzip_decompress_str(gzip_compress("t")).alias("gz"),
        b64_gzip_decode_str(b64_gzip_encode("t")).alias("b64"),
    ).collect()
    for r in out:
        assert r.gz == r.t
        assert r.b64 == r.t


cdr_tail_st = st.lists(st.one_of(st.none(), st.integers(0, 99)), min_size=25, max_size=25)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 10**10 - 1), ts_st, cdr_tail_st),
        min_size=1,
        max_size=20,
    )
)
def test_cdr_parse_fuzz(spark, rows):
    """CDR lines with arbitrary int tails incl. empty fields parse to the
    exact typed values (empty → null)."""
    lines = []
    for rec_type, phone, ts, tail in rows:
        start = ts.strftime("%Y%m%d%H%M%S")
        fields = [
            str(rec_type), f"1{phone:010d}", "7", start, start, start + "30", "2",
            "10.0.0.1", "10.0.0.2",
        ] + ["" if v is None else str(v) for v in tail]
        lines.append(",".join(fields))
    df = spark.createDataFrame([(l,) for l in lines], "raw: string")
    parsed = df.select(*parse_cdr("raw")).collect()
    got = sorted(
        (r.record_type, r.phone, r.start_ts, tuple(r[f"f{10+j}"] for j in range(25)))
        for r in parsed
    )
    want = sorted(
        (rec_type, f"1{phone:010d}", ts, tuple(tail))
        for rec_type, phone, ts, tail in rows
    )
    assert got == want


def _winnow_py(text: str, k: int = 3, w: int = 4) -> set[str]:
    """Pure-Python reference winnowing (hashlib md5 over k-gram strings)."""
    import hashlib

    toks = text.split(" ")
    grams = [
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    ]
    hashes = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    if not hashes:
        return set()
    if len(hashes) < w:
        return {min(hashes)}
    return {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}


def _ngrams_py(text: str | None, n: int) -> list[str]:
    """Pure-Python word n-grams (single-space tokens); no grams for null."""
    if text is None:
        return []
    toks = text.split(" ")
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _top_count_py(arr: list | None) -> int | None:
    """Count of the most frequent element; null for a null/empty array."""
    return max(collections.Counter(arr).values()) if arr else None


# few distinct words, so tokens and n-grams repeat; "" makes double spaces
doc_st = st.one_of(
    st.none(),
    st.lists(st.sampled_from(["a", "b", "c", ""]), min_size=1, max_size=9).map(" ".join),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(doc_st, min_size=1, max_size=8), st.integers(1, 5))
@example(texts=[None, "", "a", "a b", "a a a a", "a b a b a"], n=3)
def test_text_primitives_match_python_reference(spark, texts, n):
    """ngrams/shingles/bigrams/top_element_count against pure Python, on
    empty text, one token, n above the token count, repeated tokens and
    null text (null gives what the inline pre-`let` expressions gave: no
    n-grams, a null top count)."""
    from hadoop_stuff_spark.functions import text as T

    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    rows = df.select(
        "i",
        T.ngrams("text", n).alias("grams"),
        T.shingles("text", n).alias("shingles"),
        T.bigrams("text").alias("bigrams"),
        T.bigram_pairs("text").alias("pairs"),
        T.top_element_count(T.tokens("text")).alias("top_tok"),
        T.top_element_count(T.bigrams("text")).alias("top_big"),
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        t = texts[r["i"]]
        grams, bigs = _ngrams_py(t, n), _ngrams_py(t, 2)
        assert r["grams"] == grams, (t, n)
        assert r["shingles"] == list(dict.fromkeys(grams)), (t, n)
        assert r["bigrams"] == bigs, t
        assert [" ".join(p) for p in r["pairs"]] == bigs, t
        assert r["top_tok"] == _top_count_py(None if t is None else t.split(" ")), t
        assert r["top_big"] == _top_count_py(bigs), t


def test_let_keeps_inline_null_semantics(spark):
    """let(value, fn) == fn(value) per row, null value included."""
    from hadoop_stuff_spark.functions.text import let, tokens

    def fn(t):
        return F.transform(t, lambda w: F.concat(w, F.lit("!")))

    df = spark.createDataFrame([(None,), ("",), ("x y",)], "text string")
    got = df.select(
        let(tokens("text"), fn).alias("bound"), fn(tokens("text")).alias("inline")
    ).collect()
    assert [r["bound"] for r in got] == [r["inline"] for r in got] == [
        None,
        ["!"],
        ["x!", "y!"],
    ]


def test_winnow_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.functions.text import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a b",  # shorter than k → no grams
        "one two three",  # exactly one gram, shorter than window
        "x y z x y z x y z x y z",  # repeats → duplicate hashes
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = {
        r["i"]: set(r["fps"])
        for r in df.select("i", winnow_fingerprints("text").alias("fps")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _winnow_py(t), (i, t)


def test_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: two docs sharing a token run of >= w+k-1 tokens
    share at least one fingerprint."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.functions.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    d1 = "xx yy " + shared + " zz"
    d2 = "completely different prefix words " + shared
    df = spark.createDataFrame([(1, d1), (2, d2)], "i int, text string")
    fps = {
        r["i"]: set(r["fps"])
        for r in df.select("i", winnow_fingerprints("text").alias("fps")).collect()
    }
    assert fps[1] & fps[2], fps


def _minhash_py(text: str | None, n: int) -> list[int]:
    """Reference MinHash: the ``str.split(" ")`` tokenizer the signature UDF
    used before it read token arrays; the LONG_MAX sentinel below n tokens."""
    import numpy as np

    from hadoop_stuff_spark.operators.dedup import MINHASH_PERMS, _minhash_perm_coeffs
    from hadoop_stuff_spark.operators.sketches import murmur3_64_np

    toks = (text or "").split(" ")
    sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    if not sh:
        return [(1 << 63) - 1] * MINHASH_PERMS
    a, b = _minhash_perm_coeffs(MINHASH_PERMS)
    h = murmur3_64_np(np.array([s.encode() for s in sh], dtype=object))
    return (a[None, :] * h[:, None] + b[None, :]).min(axis=0).view(np.int64).tolist()


def _simhash_py(text: str | None) -> int | None:
    """Reference 64-bit SimHash, one bit at a time: bit j is set when more
    ``split(" ")`` tokens have md5 bit j set than clear; null for null text."""
    import hashlib

    if text is None:
        return None
    votes = [0] * 64
    for tok in text.split(" "):
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for j in range(64):
            votes[j] += 1 if (h >> j) & 1 else -1
    sig = sum(1 << j for j in range(64) if votes[j] > 0)
    return sig - (1 << 64) if sig >= 1 << 63 else sig


def test_minhash_simhash_signatures_match_python_reference(spark, sf_dir):
    """MinHash (n = 1 and 3) and SimHash signatures equal the pure-Python
    references bit for bit, on edge-case texts and on every document."""
    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.functions import text as T
    from hadoop_stuff_spark.operators.dedup import _simhash64_udf, minhash_signature

    edge = [None, "", " ", "a", "a b", "a b c", "a a a a", "dup dup x dup dup",
            "x  y z", " lead a b", "trail a b ", "a\tb c d", "é ü 中文 字 🙂"]
    edge_df = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(edge)], "doc_id bigint, text string"
    )
    docs = edge_df.unionByName(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    rows = docs.select(
        "text",
        minhash_signature("text", 1).alias("mh1"),
        minhash_signature("text", 3).alias("mh3"),
        _simhash64_udf(T.tokens("text")).alias("sh"),
    ).collect()
    assert len(rows) > len(edge)
    for r in rows:
        assert r["mh1"] == _minhash_py(r["text"], 1), r["text"]
        assert r["mh3"] == _minhash_py(r["text"], 3), r["text"]
        assert r["sh"] == _simhash_py(r["text"]), r["text"]


# ---------------------------------------------------------------------------
# media container codecs (functions/media.py) — pure-python properties


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.floats(min_value=-1.0, max_value=1.0, width=32), min_size=1, max_size=500),
    st.sampled_from([8000, 11025, 16000, 44100]),
)
def test_wav_roundtrip_any_waveform(wave, rate):
    """make_wav → parse_wav preserves container metadata exactly and the
    waveform to 16-bit quantization error, for arbitrary mono input."""
    import numpy as np

    from hadoop_stuff_spark.functions.media import make_wav, parse_wav

    info = parse_wav(make_wav(np.array(wave, dtype=np.float64), rate))
    assert info.sample_rate == rate
    assert info.channels == 1
    assert info.n_samples == len(wave)
    # encode rounds to the nearest 16-bit level and decode divides by
    # 32768 (one extra level of systematic shrink): bound = 1 lsb + shrink
    assert np.allclose(
        info.waveform, np.clip(wave, -1, 1), atol=1.5 / 32768, rtol=1e-4
    )


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_bmp_roundtrip_any_shape(w, h, seed):
    """encode_bmp → decode_bmp is pixel-exact for every (h, w) shape —
    incl. the 4-byte row-padding edge cases (w % 4 != 0)."""
    import numpy as np

    from hadoop_stuff_spark.functions.media import decode_bmp, encode_bmp, parse_image_dims

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint16).astype(np.uint8)
    blob = encode_bmp(img)
    assert parse_image_dims(blob) == ("bmp", w, h)
    assert np.array_equal(decode_bmp(blob), img)


@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_image_and_wav_parsers_never_crash_on_garbage(blob):
    """Parsers must classify or reject arbitrary bytes — never raise
    unhandled (quarantine policy belongs to the DQ gate, not the scan)."""
    from hadoop_stuff_spark.functions.media import is_wav, parse_image_dims, parse_wav

    parse_image_dims(blob)  # None or a tuple; never an exception
    if is_wav(blob):
        try:
            parse_wav(blob)
        except (ValueError, NotImplementedError):
            pass  # the two documented rejection types


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_avi_roundtrip_any_shape(w, h, n, seed):
    """make_avi → parse_avi/decode_avi_frame is pixel-exact for every
    frame shape/count — incl. row-padding widths."""
    import numpy as np

    from hadoop_stuff_spark.functions.media import (
        decode_avi_frame,
        make_avi,
        parse_avi,
    )

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint16).astype(np.uint8)
        for _ in range(n)
    ]
    info = parse_avi(make_avi(frames, fps=12))
    assert (info.width, info.height, info.n_frames) == (w, h, n)
    for i, f in enumerate(frames):
        assert np.array_equal(decode_avi_frame(info, i), f)
