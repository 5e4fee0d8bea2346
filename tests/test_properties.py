"""Property-based invariants (SURVEY.md §5 item 3) over random small corpora.

Pure-Python (oracle-level) so hypothesis can run hundreds of examples without
Spark jobs; the engine is proven equal to the oracle elsewhere, so oracle
invariants transfer."""

import string

import pytest
from hypothesis import given, settings, strategies as st

from elasticsearch_alps_spark.analysis.analyzers import analyze, analyze_positions
from elasticsearch_alps_spark.analysis.smallfloat import quantize_length
from elasticsearch_alps_spark.config import IndexConfig, WEB_CONTENT_ANALYZER
from elasticsearch_alps_spark.oracle import OracleIndex

_WORDS = ["def", "import", "return", "the", "value", "parse", "json",
          "config", "running", "cafés", "alpha", "beta", "gamma", "x1"]

corpus_st = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=30).map(" ".join),
    min_size=2, max_size=25)

query_st = st.lists(st.sampled_from(_WORDS), min_size=1, max_size=4).map(" ".join)


def _index(texts):
    return OracleIndex(list(enumerate(texts)), IndexConfig())


@given(corpus_st, query_st)
@settings(max_examples=150, deadline=None)
def test_and_subset_of_or_and_phrase_subset_of_and(texts, q):
    oi = _index(texts)
    or_ids = {d for d, _ in oi.match_query(q, "or", size=10_000)}
    and_ids = {d for d, _ in oi.match_query(q, "and", size=10_000)}
    ph_ids = {d for d, _ in oi.match_phrase_query(q, 0, size=10_000)}
    assert and_ids <= or_ids
    assert ph_ids <= and_ids
    # every hit's score is positive and finite
    for _, s in oi.match_query(q, "or", size=10_000):
        assert s > 0.0 and s == s


@given(corpus_st, query_st, st.integers(min_value=0, max_value=3))
@settings(max_examples=100, deadline=None)
def test_slop_monotone(texts, q, slop):
    """Increasing slop never loses hits."""
    oi = _index(texts)
    a = {d for d, _ in oi.match_phrase_query(q, slop, size=10_000)}
    b = {d for d, _ in oi.match_phrase_query(q, slop + 1, size=10_000)}
    assert a <= b


@given(corpus_st, st.integers(min_value=1, max_value=100))
@settings(max_examples=100, deadline=None)
def test_msm_monotone(texts, pct):
    """Raising minimum_should_match never adds hits; msm(100) on distinct
    terms ≡ AND."""
    oi = _index(texts)
    q = "def import value"
    lo = {d for d, _ in oi.match_query_msm(q, max(1, pct - 30), size=10_000)}
    hi = {d for d, _ in oi.match_query_msm(q, pct, size=10_000)}
    assert hi <= lo or max(1, pct - 30) == pct
    and_ids = {d for d, _ in oi.match_query(q, "and", size=10_000)}
    msm100 = {d for d, _ in oi.match_query_msm(q, 100, size=10_000)}
    assert msm100 == and_ids


@given(st.text(alphabet=string.printable, max_size=300))
@settings(max_examples=300, deadline=None)
def test_analyzer_total_and_positions_monotone(text):
    """The analyzer never crashes on arbitrary input; positions are
    non-decreasing; terms are non-empty and lowercase."""
    out = analyze_positions(text, WEB_CONTENT_ANALYZER)
    last = -1
    for t, p in out:
        assert t and t == t.lower()
        assert p >= last
        last = p


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=300, deadline=None)
def test_smallfloat_contract(i):
    q = quantize_length(i)
    assert 0 <= q <= i
    assert quantize_length(q) == q


@given(corpus_st)
@settings(max_examples=50, deadline=None)
def test_oracle_merge_property(texts):
    """Oracle-level merge≡rebuild: indexing A then B with offset ids equals
    indexing A∪B (the engine-level version is test_merge_and_wand.py)."""
    half = len(texts) // 2
    full = _index(texts)
    a = OracleIndex(list(enumerate(texts[:half])), IndexConfig())
    b = OracleIndex([(half + i, t) for i, t in enumerate(texts[half:])],
                    IndexConfig())
    # df/cf recombination matches
    for term, posting in full.main.postings.items():
        da = len(a.main.postings.get(term, {}))
        db = len(b.main.postings.get(term, {}))
        assert da + db == len(posting), term
    assert a.main.cf_total + b.main.cf_total == full.main.cf_total


@given(st.lists(st.integers(min_value=0, max_value=(1 << 62) - 1),
                min_size=0, max_size=200))
@settings(max_examples=300, deadline=None)
def test_varint_decode_np_equals_pure(values):
    from elasticsearch_alps_spark.indexing.postings import (
        varint_decode, varint_decode_np, varint_encode,
    )
    buf = varint_encode(values)
    assert varint_decode_np(buf).tolist() == varint_decode(buf) == values


@given(st.lists(st.integers(min_value=0, max_value=200_000),
                min_size=0, max_size=300))
@settings(max_examples=200, deadline=None)
def test_encode_decode_positions_roundtrip_np(deltas):
    from elasticsearch_alps_spark.indexing.postings import (
        decode_positions, encode_positions,
    )
    positions = []
    acc = 0
    for d in sorted(deltas):
        positions.append(acc + d)
        acc += d
    positions = sorted(set(positions))
    assert decode_positions(encode_positions(positions)) == positions


@given(st.lists(st.integers(min_value=0, max_value=(1 << 62) - 1),
                min_size=0, max_size=200))
@settings(max_examples=300, deadline=None)
def test_varint_encode_np_equals_pure(values):
    from elasticsearch_alps_spark.indexing.postings import (
        varint_encode, varint_encode_np,
    )
    assert varint_encode_np(values) == varint_encode(values)


# ---- UAX#29 tokenizer invariants (r3) ----

_token_text_st = st.text(
    alphabet=st.sampled_from(list(string.ascii_letters + string.digits)
                             + list(" .,':;_-@()[]\n\t") + ["’", "é", "速", "ス",
                             # WB4 Format chars (joiner/SHY/ZWNJ) + breaking
                             # ZWSP + an Extension-B Han char (r4)
                             "⁠", "­", "‌", "​",
                             "\U00020000"]),
    max_size=120)

# word-boundary-transparent Format chars (WB4) — the breaking U+200B is NOT
# one of these
_format_chars_st = st.sampled_from(["⁠", "­", "‌", "‍",
                                    "﻿", "‪"])


@given(_token_text_st, _format_chars_st,
       st.integers(min_value=0, max_value=120))
@settings(max_examples=300, deadline=None)
def test_tokenizer_format_chars_are_transparent(text, cf, pos):
    """UAX#29 WB4: inserting a Format character anywhere never changes the
    token stream (word joiner mid-word must not split 'ab' — the last pinned
    Lucene divergence, closed r4)."""
    from elasticsearch_alps_spark.analysis.analyzers import tokenize_standard
    pos = min(pos, len(text))
    assert tokenize_standard(text[:pos] + cf + text[pos:]) == \
        tokenize_standard(text)


@given(_token_text_st)
@settings(max_examples=400, deadline=None)
def test_tokenizer_separator_shape(text):
    """Every emitted token: no whitespace; any internal ' ’ . : , ; appears
    SINGLY and sandwiched between word chars per the UAX#29 joining rules
    (letters around MidLetter/MidNumLet, digits around MidNum)."""
    import re
    from elasticsearch_alps_spark.analysis.analyzers import tokenize_standard
    seps = set("'’.:,;·")
    for tok in tokenize_standard(text):
        assert tok and not any(c.isspace() for c in tok)
        assert tok[0] not in seps and tok[-1] not in seps
        for i, ch in enumerate(tok):
            if ch in seps:
                prev, nxt = tok[i - 1], tok[i + 1]
                assert prev not in seps and nxt not in seps  # never doubled
                if ch in ",;":
                    assert prev.isdigit() and nxt.isdigit()
                elif ch in ":·'’":
                    assert not prev.isdigit() and not nxt.isdigit()
                # '.' joins letter.letter or digit.digit — both legal


@given(_token_text_st)
@settings(max_examples=400, deadline=None)
def test_tokenizer_covers_all_word_chars(text):
    """Concatenated tokens contain exactly the \\w characters of the input
    (no word character is ever lost or invented by the joining rules)."""
    import re
    from elasticsearch_alps_spark.analysis.analyzers import tokenize_standard
    want = "".join(re.findall(r"\w", text, re.UNICODE))
    got = "".join(re.sub(r"[^\w]", "", t, flags=re.UNICODE)
                  for t in tokenize_standard(text))
    assert got == want


# ---- pure-Python media codecs (r4) ----

@given(st.integers(min_value=1, max_value=13),
       st.integers(min_value=1, max_value=13),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_any_shape(h, w, seed):
    """encode→decode is identity for every (h, w) — covers the 4-byte row
    padding and the bottom-up row flip."""
    import numpy as np
    from elasticsearch_alps_spark.extras.codecs import decode_bmp, encode_bmp
    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3),
                                              dtype=np.uint8)
    back = decode_bmp(encode_bmp(img))
    assert back.shape == img.shape and (back == img).all()


@given(st.integers(min_value=1, max_value=4000),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_within_quantization(n, seed):
    import numpy as np
    from elasticsearch_alps_spark.extras.codecs import decode_wav, encode_wav
    sig = (np.random.RandomState(seed).uniform(-1, 1, n)
           .astype(np.float32) * 0.99)
    frames, rate, ch, back = decode_wav(encode_wav(sig, 8000))
    assert frames == n and rate == 8000 and ch == 1
    # encode scales by 32767, decode by 1/32768 → error ≤ |x|/32768 + ½ LSB
    assert np.abs(back - sig).max() <= 1.5 / 32768.0 + 1e-7


def test_wav_malformed_chunks_raise_boundary_error():
    """ADVICE r4: a short fmt chunk or a data chunk whose declared size
    exceeds the payload must raise UnsupportedMediaError (the documented
    boundary type), never raw struct.error / silent truncation."""
    import struct

    import numpy as np
    import pytest

    from elasticsearch_alps_spark.extras.codecs import (
        UnsupportedMediaError, decode_wav, encode_wav,
    )
    good = encode_wav(np.zeros(16, np.float32), 8000)
    # shrink the fmt chunk: declared size 12 (< 16), body truncated to match
    fmt_at = good.index(b"fmt ")
    bad_fmt = (good[:fmt_at + 4] + struct.pack("<I", 12)
               + good[fmt_at + 8:fmt_at + 20] + good[fmt_at + 24:])
    with pytest.raises(UnsupportedMediaError, match="fmt chunk truncated"):
        decode_wav(bad_fmt)
    # truncate the payload under the data chunk's declared size
    with pytest.raises(UnsupportedMediaError, match="data chunk truncated"):
        decode_wav(good[:-4])


@given(st.integers(min_value=1, max_value=20),
       st.integers(min_value=1, max_value=20),
       st.integers(min_value=0, max_value=2**31 - 1),
       st.integers(min_value=0, max_value=3))
@settings(max_examples=25, deadline=None)
def test_jpeg_roundtrip_within_quantization(h, w, seed, restart):
    """r5: encode→decode of a random RGB image at quant=1 (4:4:4, optional
    restart markers) stays within a few levels — DCT coefficients are
    rounded to integers, so per-pixel error is bounded by the IDCT of a
    ±0.5 coefficient error (measured max 2 on random images; 4 is slack)."""
    import numpy as np
    from elasticsearch_alps_spark.extras.codecs import decode_jpeg, encode_jpeg
    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3), np.uint8)
    back = decode_jpeg(encode_jpeg(img, quant=1, restart_interval=restart))
    assert back.shape == img.shape
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 4


def test_jpeg_mutated_streams_stay_inside_boundary_type():
    """Byte-mutation fuzz (seeded): a malformed JPEG must either decode to
    SOMETHING or raise UnsupportedMediaError — never a raw
    KeyError/IndexError/struct.error escaping the documented boundary
    (the decode_wav lesson, ADVICE r4; 2000-stream sweep ran at dev
    time, this pins a 200-stream seeded subset)."""
    import random

    import numpy as np

    from elasticsearch_alps_spark.extras.codecs import (
        UnsupportedMediaError, decode_jpeg, encode_jpeg,
    )
    img = np.random.RandomState(0).randint(0, 256, (10, 14, 3), np.uint8)
    good = encode_jpeg(img, quant=1)
    rng = random.Random(2)
    for _ in range(200):
        b = bytearray(good)
        for _ in range(rng.randint(1, 6)):
            b[rng.randrange(2, len(b))] = rng.randrange(256)
        try:
            decode_jpeg(bytes(b))
        except UnsupportedMediaError:
            pass


@given(st.integers(min_value=1, max_value=20),
       st.integers(min_value=1, max_value=20),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=15, deadline=None)
def test_jpeg_subsampled_roundtrip_on_gray(h, w, seed):
    """4:2:0 chroma subsampling is lossless on gray images (chroma planes
    are flat 128), so the round trip bounds the luma path alone."""
    import numpy as np
    from elasticsearch_alps_spark.extras.codecs import decode_jpeg, encode_jpeg
    g = np.random.RandomState(seed).randint(0, 256, (h, w), np.uint8)
    img = np.repeat(g[:, :, None], 3, axis=2)
    back = decode_jpeg(encode_jpeg(img, quant=1, subsample=True))
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 4


@given(st.integers(min_value=1, max_value=11),
       st.integers(min_value=1, max_value=11),
       st.lists(st.integers(min_value=0, max_value=4), min_size=1,
                max_size=6),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_all_filters(h, w, filts, seed):
    """encode→decode identity for any shape and any per-row scanline filter
    sequence — covers the vectorized None/Sub/Up paths and the sequential
    Average/Paeth unfilter paths."""
    import numpy as np
    from elasticsearch_alps_spark.extras.codecs import decode_png, encode_png
    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3),
                                              dtype=np.uint8)
    back = decode_png(encode_png(img, row_filters=filts))
    assert back.shape == img.shape and (back == img).all()


@given(st.lists(st.tuples(
    st.integers(min_value=0, max_value=30),    # doc_id
    st.integers(min_value=0, max_value=2),     # term index
    st.integers(min_value=1, max_value=40),    # dl
), min_size=1, max_size=60, unique_by=lambda t: (t[0], t[1])),
    st.booleans(), st.booleans())
@settings(max_examples=150, deadline=None)
@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_phrase_freqs_vec_equals_loop(rows, pre_encoded, three_terms):
    """r8 vectorized exact-phrase scorer (engine._phrase_freqs_vec) must be
    bit-identical to the per-doc phrase_freq loop it replaced, for both
    position encodings and for phrases with stopword-gap offsets. Two-term
    phrases keep their "gamma" rows: a term outside the phrase must join no
    key set, with no NaN-to-int cast on the way."""
    import numpy as np
    import pandas as pd
    import random
    from elasticsearch_alps_spark.indexing.postings import encode_positions
    from elasticsearch_alps_spark.oracle import phrase_freq
    from elasticsearch_alps_spark.queries.engine import SearchEngine

    names = ["alpha", "beta", "gamma"]
    terms = names[:3] if three_terms else names[:2]
    offsets = [0, 2, 3][:len(terms)]           # gap after the first term
    rng = random.Random(42 + len(rows))
    recs = []
    for doc, ti, dl in rows:
        plist = sorted(rng.sample(range(0, 50), rng.randrange(1, 6)))
        recs.append((names[ti], doc, len(plist), 10 + doc % 7, plist))
    # keep only docs containing every phrase term (candidate semantics)
    by_doc = {}
    for t, d, f, dl, p in recs:
        by_doc.setdefault(d, {})[t] = (f, dl, p)
    cand = {d: v for d, v in by_doc.items()
            if all(t in v for t in set(terms))}
    rows_out = []
    for d, v in sorted(cand.items()):
        for t, (f, dl, p) in sorted(v.items()):
            pos = encode_positions(p) if pre_encoded else p
            rows_out.append((t, d, f, dl, pos))
    sub = pd.DataFrame(rows_out,
                       columns=["term", "doc_id", "freq", "dl", "positions"])
    k1, b, avgdl, idf_sum = 1.2, 0.75, 17.3, 2.345678
    docs_hit, scores = SearchEngine._phrase_freqs_vec(
        sub, terms, offsets, idf_sum, k1, b, avgdl)
    expected = []
    for d, v in sorted(cand.items()):
        pos = {t: p for t, (f, dl, p) in v.items()}
        dl = float(next(iter(v.values()))[1])
        fr = phrase_freq(terms, pos, 0, offsets)
        if fr > 0.0:
            tf = fr / (fr + k1 * (1.0 - b + b * dl / avgdl))
            expected.append((d, idf_sum * tf))
    assert [int(d) for d in docs_hit] == [d for d, _ in expected]
    assert [float(s) for s in scores] == [s for _, s in expected]
