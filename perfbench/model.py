"""A plain-Python model of what ``index`` + ``quantify`` (both
calibrations on) must output for a given input, used to check the
``quantify`` workload's abundances.

Why a model and not the planted abundances alone: the product follows
the reference's semantics, and two of them keep its output far from
the planted truth whatever the EM does.

- An equivalence class is keyed by (transcript, k-mer multiplicity)
  (algorithms/index.py), so every class belongs to one transcript. A
  k-mer shared by two isoforms counts toward both, and each E-step
  gives every class wholly to its one transcript: the EM has nothing to
  resolve and converges in one iteration.
- The length calibration evaluates its fitted line at µ, not at
  log(length) (algorithms/tare.py, P7):
  µ' ∝ exp((slope − 1)·µ). With 36 transcripts that is within a few
  percent of uniform.

So ``abundance_l1`` against the planted truth is about that of a
uniform guess at this commit, and cannot tell a correct pipeline from a
broken one. The model computes the expected output from the same reads
through the same steps: k-mer counts, Tare's k-mer recalibration (an
ordinary least-squares fit, which ``pyspark.ml``'s ``LinearRegression``
also solves), class counts, EM, length calibration.
"""

from __future__ import annotations

import itertools
import math
from collections import Counter

import numpy as np

N_CONTEXTS = 16
_DIGIT = {"A": 0, "C": 1, "G": 2, "T": 3}


def _kmers(seq: str, k: int):
    return (seq[i : i + k] for i in range(len(seq) - k + 1))


def _features(kmer: str) -> list[float]:
    """Tare's 16-bin dinucleotide-context histogram (tare.featurize_kmers)."""
    ctx = [4 * _DIGIT[a] + _DIGIT[b] for a, b in zip(kmer, kmer[1:])]
    hist = [0.0] * N_CONTEXTS
    for c in ctx:
        hist[c] += 1.0 / len(ctx)
    return hist


# Spark's LinearRegression solves the normal equations by Cholesky and,
# when that fails on this rank-deficient design (which depends on the
# summation order, so on the partitioning), falls back to L-BFGS with
# tolerance 1e-6. On seeds 501-510 the L-BFGS fitted values differ from
# the exact OLS ones by up to 3.2e-6, which moves a calibrated count by
# that share of itself. So a correct pipeline may floor either way a
# k-mer whose exact calibrated count lies within FLOOR_TOL (relative,
# about six times that) of an integer.
FLOOR_TOL = 2e-5
# at most 2**MAX_AMBIGUOUS floor variants, for the k-mers nearest an
# integer; seeds 1000-1199 have 0-9 k-mers within FLOOR_TOL
MAX_AMBIGUOUS = 12


def calibrate_kmers(counts: dict[str, int]) -> tuple[dict[str, int], dict[str, int]]:
    """tare.calibrate_kmers: count' = ⌊exp(mean + label − prediction)⌋,
    the prediction an OLS fit of log(count) on the histogram with an
    intercept. The histogram sums to 1, so the design is rank-deficient;
    the fitted values are unique all the same. Also returns, for the
    (at most ``MAX_AMBIGUOUS``) k-mers whose calibrated count is nearest
    to an integer, within ``FLOOR_TOL``, the count on the other side of
    that integer."""
    kmers = list(counts)
    label = np.log(np.array([counts[km] for km in kmers], dtype=float))
    x = np.hstack([np.ones((len(kmers), 1)), np.array([_features(km) for km in kmers])])
    coef, *_ = np.linalg.lstsq(x, label, rcond=None)
    mean = math.log(sum(counts.values()) / len(counts))
    cal = np.exp(mean + label - x @ coef)
    floored = {km: int(c) for km, c in zip(kmers, cal)}
    near = sorted(
        (abs(c - round(c)) / c, km, c)
        for km, c in zip(kmers, cal)
        if round(c) >= 1 and abs(c - round(c)) < FLOOR_TOL * c
    )
    other = {
        km: int(c) + 1 if int(c) < round(c) else int(c) - 1 for _, km, c in near[:MAX_AMBIGUOUS]
    }
    return floored, other


def expected_abundances(
    genome: str, transcripts: list[tuple[str, int, int]], reads: list[str], k: int
) -> list[dict[str, float]]:
    """Abundance per transcript for single-exon ``transcripts``
    (t_id, start, end) on one contig ``genome``, as the ``quantify``
    command computes it with at least one EM iteration. The first entry
    floors every calibrated k-mer count exactly; the others are the
    variants a correct pipeline may output instead, one per choice of
    floors for the k-mers within ``FLOOR_TOL`` of an integer."""
    # index: one class per (transcript, multiplicity)
    kmer_classes: dict[str, list[tuple[str, int]]] = {}
    for t_id, start, end in transcripts:
        for km, m in Counter(_kmers(genome[start:end], k)).items():
            kmer_classes.setdefault(km, []).append((t_id, m))
    counts, ambiguous = calibrate_kmers(Counter(km for r in reads for km in _kmers(r, k)))
    # the reference's transcript length is end − start − 1
    t_len = {t_id: end - start - 1 for t_id, start, end in transcripts}
    variants = []
    for flips in itertools.product((False, True), repeat=len(ambiguous)):
        varied = dict(counts)
        varied.update({km: c for (km, c), flip in zip(ambiguous.items(), flips) if flip})
        variants.append(_abundances(varied, kmer_classes, t_len, k))
    return variants


def _abundances(
    counts: dict[str, int],
    kmer_classes: dict[str, list[tuple[str, int]]],
    t_len: dict[str, int],
    k: int,
) -> dict[str, float]:
    class_cnt: Counter = Counter()
    for km, c in counts.items():
        for cls in kmer_classes.get(km, ()):
            class_cnt[cls] += c
    total = sum(class_cnt.values())
    # EM: every class has one member, so α = 1 and µ_t = Σ rel_p / (len − k + 1)
    mu: Counter = Counter()
    for (t_id, _), c in class_cnt.items():
        mu[t_id] += c / total / (t_len[t_id] - k + 1)
    norm = sum(mu.values())
    mu = {t: v / norm for t, v in mu.items()}
    # length calibration (tare.calibrate_tx_len_bias)
    xs = {t: math.log(t_len[t]) for t in mu}
    ys = {t: math.log(v) for t, v in mu.items()}
    ax, ay = sum(xs.values()) / len(mu), sum(ys.values()) / len(mu)
    slope = sum((xs[t] - ax) * (ys[t] - ay) for t in mu) / sum((xs[t] - ax) ** 2 for t in mu)
    intercept = ay - slope * ax
    mean = -math.log(len(mu))
    cal = {t: math.exp(mean + (slope * v + intercept) - v) for t, v in mu.items()}
    norm = sum(cal.values())
    return {t: v / norm for t, v in cal.items()}
