"""SentencePiece-style unigram-LM tokenizer: EM training + Viterbi
segmentation (Kudo 2018, "Subword Regularization", public literature —
the second production tokenizer family next to BPE).

Split of the work, the same as the BPE path
(``plans/llm.py::_bpe_learn_inprocess``):

- **One cluster job** counts the corpus' distinct words; the driver
  collects those |vocab| (word, count) rows, and nothing else of the
  corpus.
- **Seed inventory + EM training** run in-process over the collected
  rows (:func:`seed_pieces`, :func:`em_train`): the same driver bound
  as the BPE heap learner, independent of the EM iteration count.
- **Viterbi segmentation** runs as an Arrow-batched kernel over the
  DISTINCT vocabulary only (never per corpus token); the corpus-scale
  rollup weights each word's result by its count.

Two scoring modes:

- :func:`em_train` + :func:`viterbi_logp`: float log-probability
  Viterbi — the production path (maximum-likelihood segmentation
  under the EM-fitted unigram LM).
- :func:`quantized_costs` + :func:`viterbi_int`: INTEGER fixed-point
  costs ``floor(ln(total/freq)·4096 + 0.5)`` from the raw seed
  frequencies (EM iterations = 0). The DP is then exact integer
  arithmetic, reproducible bit-for-bit by a SQL engine — the mode the
  oracle-checked catalog entry runs (``plans/llm.py::
  text_unigram_tokenize`` unrolls the same DP in DuckDB), the same
  exhaustive-settings pattern as the ANN entries. Cross-engine float
  risk is confined to the ONE ``ln`` per piece, guarded by a
  quantization-boundary test.
"""

from __future__ import annotations

import math
from typing import Iterator

MAX_PIECE_LEN = 4
COST_SCALE = 4096.0
#: cost*32 + 1 per piece rides a single BIGINT through the DP; valid
#: while n_pieces < 32, i.e. words up to 31 chars (entry caps at 16).
COMB_PIECES = 32


def seed_pieces(
    word_counts: list[tuple[str, int]],
    max_piece_len: int = MAX_PIECE_LEN,
) -> tuple[dict[str, int], int]:
    """Candidate piece inventory from (word, count) rows: every
    substring of length 1..max_piece_len, frequency = occurrence count
    weighted by word multiplicity. Returns (freqs, total) where total
    sums ALL candidate occurrences (the normalization constant —
    computed before any culling so the cull threshold cannot shift
    every cost)."""
    freqs: dict[str, int] = {}
    for word, w in word_counts:
        n = len(word)
        for i in range(n):
            for L in range(1, min(max_piece_len, n - i) + 1):
                p = word[i : i + L]
                freqs[p] = freqs.get(p, 0) + w
    return freqs, sum(freqs.values())


def quantized_costs(
    freqs: dict[str, int], total: int, min_freq: int = 3
) -> dict[str, int]:
    """Integer fixed-point piece costs: ``floor(ln(total/freq)*4096
    + 0.5)``, pieces culled below ``min_freq`` (single chars always
    kept — every word stays segmentable). ``math.log`` here and
    DuckDB's ``ln`` both call the platform libm on the same double
    (``total/freq`` is one IEEE division), so the quantized integers
    agree across engines unless a value sits within float error of a
    .5 boundary — ``tests`` assert the fixture corpus clears every
    boundary by a wide margin."""
    return {
        p: int(math.floor(math.log(float(total) / f) * COST_SCALE + 0.5))
        for p, f in freqs.items()
        if len(p) == 1 or f >= min_freq
    }


def quantize_logp(logp: dict[str, float]) -> dict[str, int]:
    """EM log-probabilities -> integer fixed-point Viterbi costs:
    ``floor(-logp*4096 + 0.5)`` (logp <= 0 so costs >= 0). This is the
    cross-engine float convention of the whole unigram family: once the
    learned floats are quantized, the segmentation DP is exact integer
    arithmetic both engines reproduce bit-for-bit; the only float risk
    is a logp within quantization error of a .5 boundary, asserted wide
    by the margin tests (same pattern as :func:`quantized_costs`)."""
    return {
        p: int(math.floor(-lp * COST_SCALE + 0.5)) for p, lp in logp.items()
    }


def viterbi_int(
    word: str, costs: dict[str, int], max_piece_len: int = MAX_PIECE_LEN
) -> tuple[int, list[str]]:
    """Exact integer Viterbi: minimize (total cost, n_pieces) — the
    combined ``cost*32 + 1``-per-piece encoding makes one integer min
    implement the lexicographic objective. Tie-break (equal combined):
    prefer the LONGER last piece. Returns (combined, pieces)."""
    n = len(word)
    if n >= COMB_PIECES:
        # the combined cost*32+1 encoding overflows its piece-count
        # field at 32+ pieces (ADVICE r12): fail loudly, not wrongly.
        raise ValueError(
            f"word of length {n} exceeds the combined-encoding bound "
            f"({COMB_PIECES - 1} chars); split or raise COMB_PIECES"
        )
    dp: list[int | None] = [0] + [None] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        best, bl = None, 0
        for L in range(1, min(max_piece_len, j) + 1):
            p = word[j - L : j]
            c = costs.get(p)
            if c is None or dp[j - L] is None:
                continue
            cand = dp[j - L] + c * COMB_PIECES + 1
            if best is None or cand < best or (cand == best and L > bl):
                best, bl = cand, L
        dp[j], back[j] = best, bl
    if dp[n] is None:
        raise ValueError(f"word {word!r} not segmentable (chars culled?)")
    pieces: list[str] = []
    j = n
    while j > 0:
        pieces.append(word[j - back[j] : j])
        j -= back[j]
    return dp[n], pieces[::-1]


def viterbi_logp(
    word: str, logp: dict[str, float], max_piece_len: int = MAX_PIECE_LEN
) -> tuple[float, list[str]]:
    """Float log-prob Viterbi (production / EM mode): maximize total
    log-probability; ties prefer fewer pieces, then the longer last
    piece. Returns (total logp, pieces)."""
    n = len(word)
    dp: list[tuple[float, int] | None] = [(0.0, 0)] + [None] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        best, bl = None, 0
        for L in range(1, min(max_piece_len, j) + 1):
            p = word[j - L : j]
            lp = logp.get(p)
            if lp is None or dp[j - L] is None:
                continue
            cand = (dp[j - L][0] + lp, dp[j - L][1] + 1)
            if (
                best is None
                or cand[0] > best[0]
                or (cand[0] == best[0] and cand[1] < best[1])
                or (cand == best and L > bl)
            ):
                best, bl = cand, L
        dp[j], back[j] = best, bl
    if dp[n] is None:
        raise ValueError(f"word {word!r} not segmentable")
    pieces: list[str] = []
    j = n
    while j > 0:
        pieces.append(word[j - back[j] : j])
        j -= back[j]
    return dp[n][0], pieces[::-1]


def _forward_backward(
    word: str, w: int, probs: dict[str, float], counts: dict[str, float],
    max_piece_len: int,
) -> float:
    """One word's E-step: accumulate expected piece counts (weighted by
    the word's corpus multiplicity) into ``counts``; returns the word's
    marginal likelihood contribution w·ln(Z)."""
    n = len(word)
    a = [0.0] * (n + 1)
    a[0] = 1.0
    for j in range(1, n + 1):
        s = 0.0
        for L in range(1, min(max_piece_len, j) + 1):
            p = probs.get(word[j - L : j])
            if p is not None:
                s += a[j - L] * p
        a[j] = s
    z = a[n]
    if z <= 0.0:
        raise ValueError(f"word {word!r} has zero lattice mass")
    b = [0.0] * (n + 1)
    b[n] = 1.0
    for i in range(n - 1, -1, -1):
        s = 0.0
        for L in range(1, min(max_piece_len, n - i) + 1):
            p = probs.get(word[i : i + L])
            if p is not None:
                s += p * b[i + L]
        b[i] = s
    scale = w / z
    for i in range(n):
        for L in range(1, min(max_piece_len, n - i) + 1):
            piece = word[i : i + L]
            p = probs.get(piece)
            if p is not None:
                counts[piece] = counts.get(piece, 0.0) + a[i] * p * b[i + L] * scale
    return w * math.log(z)


def em_train(
    word_counts: list[tuple[str, int]],
    n_iters: int = 4,
    max_piece_len: int = MAX_PIECE_LEN,
    min_freq: int = 3,
    prune_below: float = 0.0,
) -> tuple[dict[str, float], list[float]]:
    """EM-fit unigram piece log-probabilities over the word vocabulary
    (in-process; |vocab|-bounded like the BPE heap learner).

    Seed = frequency-normalized candidate inventory (culled at
    ``min_freq``, chars kept); each iteration runs exact
    forward-backward expected counts over every word lattice and
    renormalizes. ``prune_below`` (fraction of the uniform expected
    count) drops len>=2 pieces AFTER the final iteration — pruning
    between iterations would break the EM monotonicity the tests
    assert. Returns (logp, per-iteration corpus log-likelihoods)."""
    freqs, total = seed_pieces(word_counts, max_piece_len)
    probs = {
        p: f / total
        for p, f in freqs.items()
        if len(p) == 1 or f >= min_freq
    }
    lls: list[float] = []
    for _ in range(n_iters):
        counts: dict[str, float] = {}
        ll = 0.0
        for word, w in word_counts:
            ll += _forward_backward(word, w, probs, counts, max_piece_len)
        lls.append(ll)
        tot = sum(counts.values())
        probs = {p: c / tot for p, c in counts.items() if c > 0.0}
    if prune_below > 0.0 and probs:
        floor_p = prune_below / len(probs)
        probs = {
            p: v for p, v in probs.items() if len(p) == 1 or v >= floor_p
        }
        tot = sum(probs.values())
        probs = {p: v / tot for p, v in probs.items()}
    return {p: math.log(v) for p, v in probs.items()}, lls


def viterbi_encode_frame(
    vocab, costs: dict[str, int], max_piece_len: int = MAX_PIECE_LEN
):
    """(word, w) DataFrame -> (word, w, cost, n_pieces) via the exact
    integer Viterbi in an Arrow-batched ``mapInArrow`` kernel (Arrow,
    not pandas: exact int64 end to end). Runs over the DISTINCT
    vocabulary — corpus scale never pays Python; the cost table rides
    the task closure (a production 100k-piece table is a few MB — an
    explicit broadcast, same shape)."""
    import pyarrow as pa

    def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            words = batch.column("word").to_pylist()
            ws = batch.column("w").to_pylist()
            cost_col, np_col = [], []
            for word in words:
                comb, pieces = viterbi_int(word, costs, max_piece_len)
                cost_col.append(comb // COMB_PIECES)
                np_col.append(len(pieces))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(words, pa.string()),
                    pa.array(ws, pa.int64()),
                    pa.array(cost_col, pa.int64()),
                    pa.array(np_col, pa.int64()),
                ],
                ["word", "w", "cost", "n_pieces"],
            )

    return vocab.select("word", "w").mapInArrow(
        scan, "word string, w long, cost long, n_pieces long"
    )
