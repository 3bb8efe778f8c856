"""Interpolated modified Kneser-Ney character n-gram LM (train + perplexity).

Re-expresses the semantics of /root/reference/modified_kneser_ney.py as a
count-table pipeline so training distributes as pure Spark aggregations
(SURVEY.md §2.4 A5-A8, §2.8 L8):

- highest-order raw n-gram counts          ~ modified_kneser_ney.py:158-201
  (``Counter(padded_ngrams)`` per order)
- lower-order continuation (adjusted) counts = distinct left-extensions of the
  next-higher-order table                  ~ modified_kneser_ney.py:644-664
- discounts D1/D2/D3+ per order from the counts-of-counts n1..n4
  (Chen & Goodman 1998 estimates)          ~ modified_kneser_ney.py:203-272,684-727
- interpolated backoff scoring             ~ modified_kneser_ney.py:546-577,744-758
  (log-space per-ngram score; perplexity = 2^(-mean log2 prob))

Everything float happens in ``assemble_model`` from *integer* count tables, so
the in-memory trainer here and the distributed trainer in
operators/perplexity.py (which computes the same integer tables with
groupBy/agg) produce bit-identical models — the fast-vs-slow oracle pattern of
dictionary_langid/datatypes.py:337-341.

The model is a plain picklable dataclass of dicts (a char-trigram LM is a few
hundred KB), safe to ``sc.broadcast`` — never a native object (SURVEY.md §7.3).

Scoring: ``prob`` is the definition — a recursive interpolation costing a
few dict lookups per order. ``logprob2`` memoizes ``gram -> log2 prob`` on
the model instance, so a gram repeated anywhere in a worker's documents
(most are) costs one dict hit. The memo is cleared whenever it reaches
``LOGPROB_MEMO_MAX`` entries and is never pickled, so a broadcast carries the
same bytes however warm the driver's copy is. Worst case per Python worker:
a full memo is ~150 B per entry (a gram of up to 5 UCS-4 chars, its float,
its dict slot), ~2.5 MB per model, ~430 MB with 176 language models loaded.
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Iterable
from dataclasses import dataclass, field

BOS = "\x02"  # padding chars, like the sentence padding the reference applies
EOS = "\x03"  # before Counter(ngrams) (modified_kneser_ney.py:158-201)

# entries per model before the scoring memo is cleared (module docstring)
LOGPROB_MEMO_MAX = 1 << 14


def padded_chars(text: str, order: int) -> str:
    """casefolded text with (order-1) BOS pads and one EOS."""
    return BOS * (order - 1) + text.casefold() + EOS


# ---------------------------------------------------------------------------
# count tables (integers only — shared contract with the Spark trainer)
# ---------------------------------------------------------------------------


def raw_ngram_counts(
    corpus: Iterable[str], order: int
) -> dict[int, dict[str, int]]:
    """counts[k][gram] for k=1..order.

    Highest order: raw occurrence counts over padded docs. Lower orders:
    continuation counts — the number of DISTINCT single-char left-extensions
    present in the order-(k+1) table (recursively), per Kneser-Ney's
    "novel-continuation" reasoning (modified_kneser_ney.py:644-664).
    """
    top: Counter[str] = Counter()
    for text in corpus:
        chars = padded_chars(text, order)
        for i in range(len(chars) - order + 1):
            top[chars[i : i + order]] += 1
    counts: dict[int, dict[str, int]] = {order: dict(top)}
    for k in range(order - 1, 0, -1):
        cont: Counter[str] = Counter()
        for gram in counts[k + 1]:
            cont[gram[1:]] += 1  # distinct left-extension
        counts[k] = dict(cont)
    return counts


# ---------------------------------------------------------------------------
# model assembly (all floating-point math; deterministic iteration order)
# ---------------------------------------------------------------------------


@dataclass
class KNModel:
    """Modified-KN model as plain dicts (broadcastable, picklable)."""

    order: int
    counts: dict[int, dict[str, int]]
    # ctx_stats[k][ctx] = (total, n1, n2, n3plus) over the order-k table
    ctx_stats: dict[int, dict[str, tuple[int, int, int, int]]]
    # discounts[k] = (D1, D2, D3plus)
    discounts: dict[int, tuple[float, float, float]]
    uni_total: int
    vocab_size: int
    oov_logprob: float = field(default=0.0)

    # -- probabilities ----------------------------------------------------
    def _discount(self, k: int, c: int) -> float:
        if c == 0:
            return 0.0
        d1, d2, d3 = self.discounts[k]
        return d1 if c == 1 else d2 if c == 2 else d3

    def prob(self, ctx: str, w: str) -> float:
        """Interpolated p(w | ctx); ctx may be shorter than order-1
        (recursion / backoff on absent contexts —
        modified_kneser_ney.py:546-577)."""
        k = len(ctx) + 1
        if k == 1:
            c = self.counts[1].get(w, 0)
            d = self._discount(1, c)
            total = self.uni_total
            # unigram discount mass backs off to uniform over vocab+1 (OOV)
            stats = self.ctx_stats[1][""]
            _, n1, n2, n3p = stats
            d1, d2, d3 = self.discounts[1]
            lam = (d1 * n1 + d2 * n2 + d3 * n3p) / total
            return max(c - d, 0.0) / total + lam / (self.vocab_size + 1)
        stats = self.ctx_stats[k].get(ctx)
        if stats is None:
            return self.prob(ctx[1:], w)
        total, n1, n2, n3p = stats
        c = self.counts[k].get(ctx + w, 0)
        d1, d2, d3 = self.discounts[k]
        lam = (d1 * n1 + d2 * n2 + d3 * n3p) / total
        return max(c - self._discount(k, c), 0.0) / total + lam * self.prob(
            ctx[1:], w
        )

    # -- document scoring -------------------------------------------------
    def __post_init__(self) -> None:
        self._memo: dict[str, float] = {}

    def __getstate__(self) -> dict:
        # the memo is per-process scratch: a broadcast or a saved model
        # carries exactly the fields, however warm the driver's copy is
        state = self.__dict__.copy()
        del state["_memo"]
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._memo = {}

    def logprob2(self, text: str) -> tuple[float, int]:
        """(sum log2 p, n_predictions) over the padded char stream
        (score_sent shape, modified_kneser_ney.py:744-758). Each gram's
        ``log2 prob`` is memoized (module docstring, "Scoring"); the sum
        runs left to right either way, so the result is bit-identical."""
        order = self.order
        padded = padded_chars(text, order)
        n = len(padded) - order + 1
        memo = self._memo
        total = 0.0
        for i in range(n):
            gram = padded[i : i + order]
            lp = memo.get(gram)
            if lp is None:
                if len(memo) >= LOGPROB_MEMO_MAX:
                    memo.clear()
                lp = memo[gram] = math.log2(self.prob(gram[:-1], gram[-1]))
            total += lp
        return total, n

    def perplexity(self, text: str | None) -> float:
        """2^(-mean log2 prob); inf-safe (empty text -> +inf sentinel)."""
        if not text:
            return float("inf")
        lp, n = self.logprob2(text)
        return 2.0 ** (-lp / n)


def _counts_of_counts(table: dict[str, int]) -> tuple[int, int, int, int]:
    n = [0, 0, 0, 0]
    for c in table.values():
        if 1 <= c <= 4:
            n[c - 1] += 1
    return n[0], n[1], n[2], n[3]


# lower bound for every discount: a context whose only grams hit a
# zero-discount count class would otherwise have ZERO backoff mass, making
# every unseen continuation probability 0 (found by hypothesis: corpus
# ['a','a','a','b b '] gives D2=0 exactly, and p('c'|'b') = 0 -> log domain
# error). KenLM floors its discounts for the same reason.
MIN_DISCOUNT = 0.05


def _estimate_discounts(table: dict[str, int]) -> tuple[float, float, float]:
    """Chen-Goodman closed-form discounts from n1..n4
    (modified_kneser_ney.py:203-272). Degenerate tables fall back to the
    classic 0.5/1.0/1.5 absolute discounts; all discounts clamped to
    [MIN_DISCOUNT, 1+i] so backoff mass is strictly positive."""
    n1, n2, n3, n4 = _counts_of_counts(table)
    clamp = lambda v, hi: min(max(v, MIN_DISCOUNT), hi)  # noqa: E731
    if n1 == 0 or n2 == 0:
        return 0.5, 1.0, 1.5
    y = n1 / (n1 + 2.0 * n2)
    d1 = 1.0 - 2.0 * y * (n2 / n1)
    d2 = 2.0 - 3.0 * y * (n3 / n2) if n3 else 1.0
    d3 = 3.0 - 4.0 * y * (n4 / n3) if n3 and n4 else 1.5
    return clamp(d1, 1.0), clamp(d2, 2.0), clamp(d3, 3.0)


def assemble_model(counts: dict[int, dict[str, int]], order: int) -> KNModel:
    """Float assembly from integer count tables (shared by both trainers)."""
    ctx_stats: dict[int, dict[str, tuple[int, int, int, int]]] = {}
    discounts: dict[int, tuple[float, float, float]] = {}
    for k in range(1, order + 1):
        table = counts[k]
        discounts[k] = _estimate_discounts(table)
        per_ctx: dict[str, list[int]] = {}
        for gram, c in table.items():
            ctx = gram[:-1]
            st = per_ctx.setdefault(ctx, [0, 0, 0, 0])
            st[0] += c
            if c == 1:
                st[1] += 1
            elif c == 2:
                st[2] += 1
            else:
                st[3] += 1
        ctx_stats[k] = {ctx: tuple(st) for ctx, st in per_ctx.items()}
    uni_total = sum(counts[1].values())
    # event space for the uniform backoff = every unigram type (EOS included)
    # plus ONE out-of-vocabulary bucket — this makes sum_w p(w|ctx) == 1
    # exactly at every order (normalization invariant, tested).
    vocab = set(counts[1])
    return KNModel(
        order=order,
        counts=counts,
        ctx_stats=ctx_stats,
        discounts=discounts,
        uni_total=uni_total,
        vocab_size=len(vocab),
    )


def train_kn(corpus: Iterable[str], order: int = 3) -> KNModel:
    """In-memory trainer (the row-wise oracle; Spark path in
    operators/perplexity.py computes identical tables distributively)."""
    return assemble_model(raw_ngram_counts(corpus, order), order)


def train_kn_per_lang(
    corpus: Iterable[tuple[str, str]], order: int = 3
) -> dict[str, KNModel]:
    """One LM per language from (lang, text) rows — the CCNet-style layout the
    north rule's per-language perplexity gate uses."""
    by_lang: dict[str, list[str]] = {}
    for lang, text in corpus:
        by_lang.setdefault(lang, []).append(text)
    return {lang: train_kn(texts, order) for lang, texts in sorted(by_lang.items())}


# ---------------------------------------------------------------------------
# word-level KN (the reference's unit: modified_kneser_ney.py trains and
# scores over token sequences — score_sent at :744-758)
# ---------------------------------------------------------------------------

OOV_SYM = "\x00"  # symbol for words unseen at training time

# hard ceiling on per-language word vocabulary: the PUA symbol space holds
# ~137k codepoints (6400 BMP + 131k planes 15/16); 120k leaves headroom.
# Everything beyond the cap is OOV — like KenLM's UNK, a modeling decision,
# not a truncation bug: rank-120k+ words are in the long tail where the OOV
# bucket's uniform price is the right estimate anyway.
MAX_WORD_VOCAB = 120_000


def prune_vocab(
    counts: dict[str, int], min_count: int, max_vocab: int
) -> list[str]:
    """Shared vocabulary rule for BOTH trainers (oracle + Spark): drop words
    below min_count; if still over max_vocab keep the top max_vocab by
    (count desc, word asc); return survivors sorted (the deterministic
    word->symbol assignment order)."""
    kept = [(w, c) for w, c in counts.items() if c >= min_count]
    if len(kept) > max_vocab:
        kept.sort(key=lambda wc: (-wc[1], wc[0]))
        kept = kept[:max_vocab]
    return sorted(w for w, _ in kept)


def _sym_for(i: int) -> str:
    """Deterministic word->codepoint assignment over the private-use areas
    (BMP PUA 6400 slots, then planes 15/16: ~131k more) — enough for any
    realistic per-language LM vocabulary."""
    if i < 0x1900:
        return chr(0xE000 + i)
    return chr(0xF0000 + (i - 0x1900))


class WordKNModel:
    """Word-unit modified Kneser-Ney over token sequences.

    Each vocabulary word maps to ONE private-use codepoint, turning a token
    sequence into a symbol string — the char-KN machinery (counts,
    continuation counts, discounts, backoff, normalization invariant) then
    applies VERBATIM with one symbol == one word, so word-level perplexity is
    2^(-mean log2 p(word|context)). Unseen words map to OOV_SYM, an unseen
    unigram, which the char model prices via its uniform-backoff OOV bucket.
    """

    def __init__(self, char_model: KNModel, word2sym: dict[str, str]) -> None:
        self.char_model = char_model
        self.word2sym = word2sym

    @classmethod
    def train(
        cls,
        corpus: Iterable[list[str]],
        order: int = 3,
        min_count: int = 1,
        max_vocab: int = MAX_WORD_VOCAB,
    ) -> "WordKNModel":
        """Vocabulary is BOUNDED: casefolded words below ``min_count`` or
        beyond the top ``max_vocab`` (by count desc, word asc) become OOV —
        the standard UNK treatment, and what keeps the symbol space (and the
        Spark trainer's driver collect) finite at web scale. Defaults leave
        small corpora unpruned."""
        sents = [list(s) for s in corpus]
        cnt: Counter[str] = Counter(w.casefold() for s in sents for w in s)
        vocab = prune_vocab(cnt, min_count, max_vocab)
        word2sym = {w: _sym_for(i) for i, w in enumerate(vocab)}
        texts = [
            "".join(word2sym.get(w.casefold(), OOV_SYM) for w in s)
            for s in sents
        ]
        return cls(train_kn(texts, order), word2sym)

    def encode(self, tokens: Iterable[str]) -> str:
        return "".join(
            self.word2sym.get(w.casefold(), OOV_SYM) for w in tokens
        )

    def perplexity(self, tokens: list[str] | None) -> float:
        if not tokens:
            return float("inf")
        return self.char_model.perplexity(self.encode(tokens))

    def logprob2(self, tokens: list[str]) -> tuple[float, int]:
        return self.char_model.logprob2(self.encode(tokens))
