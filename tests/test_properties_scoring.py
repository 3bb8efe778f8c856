"""The scoring memos keep every score bit-identical and stay out of pickles.

``KNModel.logprob2`` memoizes ``gram -> log2 prob`` and
``NumpyFastText.line_ids`` memoizes ``token -> (row ids, hash)`` on the
model instance. The oracles here are the unmemoized definitions: a
left-to-right sum of ``math.log2(m.prob(ctx, w))``, and a freshly built
model whose memo is empty. Warm models are shared across all examples, so
the memo carries state from one document to the next as it does inside a
Python worker.
"""

import math
import pickle
from unittest import mock

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from language_identification_spark.fixtures import training_corpus
from language_identification_spark.operators import fasttext_np
from language_identification_spark.operators.fasttext_np import EOS as FT_EOS
from language_identification_spark.operators.fasttext_np import (
    FastTextArgs,
    NumpyFastText,
)
from language_identification_spark.oracle import kneser_ney
from language_identification_spark.oracle.kneser_ney import (
    BOS,
    EOS,
    train_kn,
    train_kn_per_lang,
)
from language_identification_spark.oracle.langid import NgramNBModel

KN_CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "Straße und Fluß, große Maße",
    "İstanbul ve Iğdır, ılık bir gün",
    "ﬁne ﬂour; ǅemal",
    "a",
]
KN_WARM = {order: train_kn(KN_CORPUS, order=order) for order in (1, 2, 3, 4)}
KN_CAPPED = train_kn(KN_CORPUS, order=3)  # only ever scored under a tiny cap


def _ref_logprob2(m, text):
    chars = [BOS] * (m.order - 1) + list(text.casefold()) + [EOS]
    total, n = 0.0, 0
    for i in range(m.order - 1, len(chars)):
        total += math.log2(m.prob("".join(chars[i - m.order + 1 : i]), chars[i]))
        n += 1
    return total, n


def _ref_perplexity(m, text):
    if not text:
        return float("inf")
    lp, n = _ref_logprob2(m, text)
    return 2.0 ** (-lp / n)


def _bits(x: float) -> str:
    return x.hex()


# arbitrary unicode plus the characters that stress the memo's keying:
# casefold expansions (ß -> ss, İ -> i̇, ﬁ -> fi) and the pad symbols
doc_text = st.text(
    alphabet=st.one_of(
        st.characters(),
        st.sampled_from(["ß", "İ", "ﬁ", "ǅ", BOS, EOS, "a", "s", " "]),
    ),
    max_size=60,
)


def _assert_kn_equal(m, docs):
    for text in docs:
        lp, n = m.logprob2(text)
        ref_lp, ref_n = _ref_logprob2(m, text)
        assert (_bits(lp), n) == (_bits(ref_lp), ref_n), text
        assert _bits(m.perplexity(text)) == _bits(_ref_perplexity(m, text))


@settings(max_examples=150, deadline=None)
@given(docs=st.lists(doc_text, min_size=1, max_size=12), order=st.sampled_from([1, 2, 3, 4]))
def test_kn_memo_is_bit_identical_to_left_to_right_sum(docs, order):
    """Many documents through one shared, warm memo."""
    _assert_kn_equal(KN_WARM[order], docs + ["x", BOS, EOS, "ß", "İ"])


@settings(max_examples=60, deadline=None)
@given(docs=st.lists(doc_text, min_size=1, max_size=12))
def test_kn_memo_reset_at_cap_is_bit_identical(docs):
    """A cap of a few entries forces resets inside nearly every document."""
    with mock.patch.object(kneser_ney, "LOGPROB_MEMO_MAX", 5):
        _assert_kn_equal(KN_CAPPED, docs)
        assert len(KN_CAPPED._memo) <= 5


# -- fastText ------------------------------------------------------------------

FT_LABELS = ["__label__en", "__label__fr", "__label__de"]
FT_WORDS = ["the", "hello", "world", "le", "bonjour", "der", "welt", FT_EOS]
FT_DIM, FT_BUCKET = 8, 64


def _ft_model(pruned: bool) -> NumpyFastText:
    """A fresh model (empty memo) from fixed matrices: minn/maxn and word
    bigrams on; the pruned variant keeps every third bucket."""
    args = FastTextArgs(dim=FT_DIM, word_ngrams=2, bucket=FT_BUCKET, minn=2, maxn=4)
    rng = np.random.default_rng(11)
    nwords = len(FT_WORDS)
    inp = rng.normal(0, 1, size=(nwords + FT_BUCKET, FT_DIM)).astype(np.float32)
    out = rng.normal(0, 1, size=(len(FT_LABELS), FT_DIM)).astype(np.float32)
    pruneidx = None
    if pruned:
        kept = list(range(0, FT_BUCKET, 3))
        pruneidx = {h: i for i, h in enumerate(kept)}
        inp = np.vstack([inp[:nwords], inp[nwords + np.asarray(kept)]])
    return NumpyFastText(
        args, FT_WORDS, [10] * nwords, FT_LABELS, [5] * len(FT_LABELS),
        inp, out, pruneidx,
    )


FT_WARM = {pruned: _ft_model(pruned) for pruned in (False, True)}
FT_CAPPED = _ft_model(False)  # only ever scored under a tiny cap

ft_token = st.one_of(
    # no lone surrogates: text reaches the model as UTF-8 Arrow strings
    st.text(
        st.characters(blacklist_categories=("Cs",), blacklist_characters=" \t\n\v\f\r\0"),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from(FT_WORDS + ["__label__en", "__label__xx", "</s>", "hello__label__"]),
)
ft_line = st.lists(ft_token, max_size=10).map(" ".join)


@settings(max_examples=150, deadline=None)
@given(lines=st.lists(ft_line, min_size=1, max_size=8), pruned=st.booleans())
def test_fasttext_warm_memo_equals_cold_model(lines, pruned):
    """OOV tokens, __label__ tokens and a literal </s> score the same
    through a memo warmed by earlier examples as through an empty one."""
    warm, cold = FT_WARM[pruned], _ft_model(pruned)
    for line in lines:
        assert warm.line_ids(line) == cold.line_ids(line)
        w, c = warm.predict(line, k=3), cold.predict(line, k=3)
        assert [(lab, _bits(p)) for lab, p in w] == [(lab, _bits(p)) for lab, p in c]


@settings(max_examples=40, deadline=None)
@given(lines=st.lists(ft_line, min_size=1, max_size=8))
def test_fasttext_memo_reset_at_cap_equals_cold_model(lines):
    with mock.patch.object(fasttext_np, "TOKEN_MEMO_MAX", 3):
        for line in lines:
            assert FT_CAPPED.line_ids(line) == _ft_model(False).line_ids(line)
        assert len(FT_CAPPED._memo) <= 3


# -- broadcast payload and bound --------------------------------------------------


def test_driver_side_scoring_leaves_broadcast_payload_unchanged():
    """enrich_udf broadcasts (nb, kn_models): scoring on the driver first
    must not put the memos into that payload."""
    corpus = training_corpus()
    nb, kn_models = NgramNBModel.train(corpus), train_kn_per_lang(corpus)
    ft = _ft_model(False)
    before = pickle.dumps((nb, kn_models)), pickle.dumps(ft)
    for lang, text in corpus:
        kn_models[lang].perplexity(text)
        ft.predict(text)
    assert all(len(m._memo) > 0 for m in kn_models.values()) and ft._memo
    after = pickle.dumps((nb, kn_models)), pickle.dumps(ft)
    assert [len(b) for b in after] == [len(b) for b in before]
    assert after == before
    # an unpickled copy starts with an empty memo and scores the same
    copy = pickle.loads(after[0])[1]
    assert all(m._memo == {} for m in copy.values())
    lang, text = corpus[0]
    assert copy[lang].perplexity(text) == kn_models[lang].perplexity(text)


def test_memos_stay_at_or_below_their_caps():
    rng = np.random.default_rng(3)
    alphabet = [chr(c) for c in range(0x4E00, 0x4E00 + 200)]
    text = "".join(rng.choice(alphabet, size=3 * kneser_ney.LOGPROB_MEMO_MAX))
    m = train_kn(KN_CORPUS, order=3)
    m.perplexity(text)
    assert len(set(text[i : i + 3] for i in range(len(text) - 2))) > kneser_ney.LOGPROB_MEMO_MAX
    assert 0 < len(m._memo) <= kneser_ney.LOGPROB_MEMO_MAX

    ft = _ft_model(False)
    long_token = "y" * (fasttext_np.TOKEN_MEMO_MAX_CHARS + 1)
    ft.line_ids(" ".join(f"t{i}" for i in range(fasttext_np.TOKEN_MEMO_MAX + 100)))
    ft.line_ids(long_token)
    assert 0 < len(ft._memo) <= fasttext_np.TOKEN_MEMO_MAX
    assert long_token not in ft._memo
