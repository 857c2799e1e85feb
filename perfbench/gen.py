"""Seeded input generators for the benchmark workloads.

Everything here is plain Python, pyarrow and numpy: the program under
test only ever sees the parquet files these functions write. The same seed and
size always give byte-identical inputs, and every random draw comes
from one ``random.Random(seed)`` stream per generator.

- :func:`make_genomics` — an ACGT transcriptome (genes with several
  isoforms over overlapping regions of one contig, so k-mers are shared
  between isoforms) plus error-free reads drawn at planted abundances,
  and the abundances the ``quantify`` command must output for them
  (``model.py``).
- :func:`make_corpus` — a documents table whose vocabulary grows with
  the corpus size (Heaps'-law synthetic words resampled through a
  token Markov chain), with planted near-duplicate families at known
  character-shingle Jaccard, planted exact-duplicate groups, and
  planted email and phone strings.
"""

from __future__ import annotations

import bisect
import itertools
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

import model

ACGT = "ACGT"


INPUT_FILES = 8


def write_parts(table: pa.Table, path: str, n_files: int = INPUT_FILES) -> None:
    """Write ``table`` as a directory of ``n_files`` parquet files, as
    real read sets and corpora arrive: Spark then scans it with one task
    per core instead of one task for a single small file."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- genomics


def make_genomics(
    out_dir: str,
    seed: int,
    n_genes: int,
    isoforms: int,
    gene_len: int,
    n_reads: int,
    read_len: int,
    k: int,
) -> dict:
    """Write genome/genes/reads parquet under ``out_dir``; return the
    ground truth (planted abundances per transcript), the abundances
    ``index`` + ``quantify`` at k-mer length ``k`` may output
    (``expected``: the model's exact output first, then its floor
    variants, see ``model.expected_abundances``), and input sizes.

    Each gene is a random ACGT region; each isoform is one exon
    [start, end) inside it: the first spans the gene, the others are at
    least half the gene (and a read) long, so isoforms of one gene
    overlap and share k-mers. A transcript's
    length under the program's ``width - 1`` rule is ``end - start - 1``;
    reads start uniformly inside the extracted ``[start, end)`` hull."""
    rng = random.Random(seed)
    spacer = 50
    genome_parts: list[str] = []
    pos = 0
    transcripts = []  # (t_id, gene_id, start, end)
    for g in range(n_genes):
        region = "".join(rng.choice(ACGT) for _ in range(gene_len))
        genome_parts.append(region)
        for i in range(isoforms):
            # isoform 0 spans the gene, so every gene contributes the
            # same number of distinct k-mers whatever the seed
            length = gene_len if i == 0 else rng.randrange(max(gene_len // 2, read_len + 1), gene_len + 1)
            start = rng.randrange(0, gene_len - length + 1)
            transcripts.append((f"g{g}t{i}", f"g{g}", pos + start, pos + start + length))
        pos += gene_len
        genome_parts.append("N" * spacer)
        pos += spacer
    genome = "".join(genome_parts)

    # planted abundances: log-normal weights, normalized
    weights = [math.exp(rng.gauss(0.0, 0.5)) for _ in transcripts]
    total = sum(weights)
    abundance = {t[0]: w / total for t, w in zip(transcripts, weights)}

    # reads per transcript ∝ abundance × length (the reference
    # ReadGenerator's rule), largest-remainder rounding to n_reads
    mass = [abundance[t[0]] * (t[3] - t[2]) for t in transcripts]
    msum = sum(mass)
    exact = [m / msum * n_reads for m in mass]
    counts = [int(x) for x in exact]
    order = sorted(range(len(exact)), key=lambda i: exact[i] - counts[i], reverse=True)
    for i in order[: n_reads - sum(counts)]:
        counts[i] += 1
    reads = []
    for (t_id, _, start, end), n in zip(transcripts, counts):
        seq = genome[start:end]
        for _ in range(n):
            s = rng.randrange(0, len(seq) - read_len + 1)
            reads.append(seq[s : s + read_len])
    rng.shuffle(reads)

    os.makedirs(out_dir, exist_ok=True)
    exon_t = pa.struct(
        [
            pa.field("exon_id", pa.string(), False),
            pa.field("contig", pa.string(), False),
            pa.field("start", pa.int64(), False),
            pa.field("end", pa.int64(), False),
        ]
    )
    pq.write_table(
        pa.table(
            {"contig": ["chr1"], "sequence": [genome]},
            schema=pa.schema(
                [pa.field("contig", pa.string(), False), pa.field("sequence", pa.string(), False)]
            ),
        ),
        os.path.join(out_dir, "genome.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "t_id": [t[0] for t in transcripts],
                "gene_id": [t[1] for t in transcripts],
                "strand": [True] * len(transcripts),
                "exons": [
                    [{"exon_id": t[0] + "e1", "contig": "chr1", "start": t[2], "end": t[3]}]
                    for t in transcripts
                ],
            },
            schema=pa.schema(
                [
                    pa.field("t_id", pa.string(), False),
                    pa.field("gene_id", pa.string()),
                    pa.field("strand", pa.bool_()),
                    pa.field("exons", pa.list_(exon_t), False),
                ]
            ),
        ),
        os.path.join(out_dir, "genes.parquet"),
    )
    write_parts(
        pa.table(
            {"read_id": list(range(len(reads))), "sequence": reads},
            schema=pa.schema(
                [pa.field("read_id", pa.int64(), False), pa.field("sequence", pa.string(), False)]
            ),
        ),
        os.path.join(out_dir, "reads.parquet"),
    )
    return {
        "abundance": abundance,
        "expected": model.expected_abundances(
            genome, [(t_id, start, end) for t_id, _, start, end in transcripts], reads, k
        ),
        "sizes": {
            "transcripts": len(transcripts),
            "genes": n_genes,
            "genome_bp": len(genome),
            "reads": len(reads),
            "read_len": read_len,
        },
    }


# ---------------------------------------------------------------- corpus

STOPWORDS = ["the", "of", "and", "to", "with", "that", "in", "a", "is", "for", "be", "have"]
_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w",
           "br", "ch", "cr", "dr", "gl", "pl", "pr", "sh", "st", "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
_CODAS = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st", "rk"]
DOMAINS = ["example.org", "mail.test", "corp.example", "news.test"]


def _word(rng: random.Random) -> str:
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(1, 3))
    ) + rng.choice(_CODAS)


class _Markov:
    """First-order token chain over a vocabulary of ``V`` synthetic
    words (Heaps' law: V grows with the corpus). Each word has a small
    successor list; transitions mix it with Zipf-distributed draws from
    the whole vocabulary and with stop words, so text has both local
    structure (repeated bigrams the LM can learn) and a long tail."""

    def __init__(self, rng: random.Random, vocab_size: int):
        seen: set[str] = set(STOPWORDS)
        words: list[str] = []
        while len(words) < vocab_size:
            w = _word(rng)
            if w not in seen and len(w) >= 3:
                seen.add(w)
                words.append(w)
        self.words = words
        zipf = [1.0 / (r + 1) ** 1.05 for r in range(vocab_size)]
        self.cum = list(itertools.accumulate(zipf))
        self.succ = [[rng.randrange(vocab_size) for _ in range(4)] for _ in range(vocab_size)]

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])

    def sentence(self, rng: random.Random, n_words: int) -> str:
        cur = self.draw(rng)
        out = []
        for _ in range(n_words):
            r = rng.random()
            if r < 0.3:
                out.append(rng.choice(STOPWORDS))
                continue
            cur = rng.choice(self.succ[cur]) if r < 0.7 else self.draw(rng)
            out.append(self.words[cur])
        s = " ".join(out)
        return s[0].upper() + s[1:] + "."


def shingles(text: str, k: int = 4) -> set[str]:
    return {text[i : i + k] for i in range(len(text) - k + 1)}


def jaccard(a: str, b: str, k: int = 4) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def _edit(rng: random.Random, text: str, n_edits: int, chain: _Markov) -> str:
    """Replace ``n_edits`` distinct non-stop words (never a PII token)
    with fresh vocabulary draws: a near-duplicate at a known edit count."""
    lines = [ln.split(" ") for ln in text.split("\n")]
    slots = [
        (i, j)
        for i, ln in enumerate(lines)
        for j, w in enumerate(ln)
        if w.strip(".").lower() not in STOPWORDS and "@" not in w and not w[:1].isdigit()
        and "-" not in w
    ]
    for i, j in rng.sample(slots, min(n_edits, len(slots))):
        tail = "." if lines[i][j].endswith(".") else ""
        lines[i][j] = chain.words[chain.draw(rng)] + tail
    return "\n".join(" ".join(ln) for ln in lines)


def make_corpus(
    out_dir: str,
    seed: int,
    n_docs: int,
    near_dup_frac: float = 0.05,
    exact_dup_frac: float = 0.02,
    pii_frac: float = 0.1,
) -> dict:
    """Write ``docs.parquet`` (doc_id, text, lang, source, n_chars)
    under ``out_dir``; return the planted ground truth and sizes.

    - Documents are 4–8 lines of 8–18-word sentences (every line ends
      in a period, so C4's line rule keeps them; a third of tokens are
      stop words, so Gopher and the quality score pass them).
    - ``near_dup_frac`` of the documents are non-canonical members of
      near-duplicate families: a base document plus 2–3 edited copies,
      each one word substitution away from the base (the lowest
      character 4-shingle Jaccard to a base is recorded). LSH banding
      is approximate and can still miss such a member; a near-duplicate
      that survives counts against ``dup_recall``. Only an
      exact-duplicate survivor fails the output check.
    - ``exact_dup_frac`` of the documents are verbatim copies of
      another document (groups of 2–3).
    - ``pii_frac`` of the unique documents carry one email address and
      one phone number in a sentence of their own."""
    rng = random.Random(seed)
    vocab = max(200, int(30 * n_docs**0.6))
    chain = _Markov(rng, vocab)

    def doc_text() -> str:
        return "\n".join(
            chain.sentence(rng, rng.randint(8, 18)) for _ in range(rng.randint(4, 8))
        )

    n_near = int(n_docs * near_dup_frac)
    n_exact = int(n_docs * exact_dup_frac)
    texts: list[str] = []
    family: list[int] = []  # -1 = unique; else family index
    kind: list[str] = []
    emails: list[str] = []
    phones: list[str] = []
    member_jaccard: list[float] = []

    fam = 0
    while sum(1 for k in kind if k == "near_member") < n_near:
        base = doc_text()
        texts.append(base)
        family.append(fam)
        kind.append("near_base")
        for _ in range(rng.randint(2, 3)):
            member = _edit(rng, base, 1, chain)
            member_jaccard.append(jaccard(base, member))
            texts.append(member)
            family.append(fam)
            kind.append("near_member")
        fam += 1
    while sum(1 for k in kind if k == "exact_copy") < n_exact:
        base = doc_text()
        texts.append(base)
        family.append(fam)
        kind.append("exact_base")
        for _ in range(rng.randint(1, 2)):
            texts.append(base)
            family.append(fam)
            kind.append("exact_copy")
        fam += 1
    while len(texts) < n_docs:
        t = doc_text()
        if rng.random() < pii_frac:
            user = _word(rng) + str(rng.randint(1, 99))
            email = f"{user}@{rng.choice(DOMAINS)}"
            phone = f"{rng.randint(200, 989)}-{rng.randint(200, 989)}-{rng.randint(1000, 9999)}"
            emails.append(email)
            phones.append(phone)
            lines = t.split("\n")
            lines.insert(
                rng.randint(1, len(lines)),
                f"Write to {email} or call {phone} for the full record of the "
                "meeting with the board.",
            )
            t = "\n".join(lines)
        texts.append(t)
        family.append(-1)
        kind.append("unique")

    # shuffle doc order so families are not adjacent
    order = list(range(len(texts)))
    rng.shuffle(order)
    texts = [texts[i] for i in order]
    family = [family[i] for i in order]
    kind = [kind[i] for i in order]

    os.makedirs(out_dir, exist_ok=True)
    langs = ["en", "de", "fr"]
    sources = ["web", "books", "news", "forum"]
    write_parts(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "lang": [langs[i % 3] for i in range(len(texts))],
                "source": [sources[(i * 7) % 4] for i in range(len(texts))],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "docs.parquet"),
    )
    vocab_used = len({w for t in texts for w in t.split()})
    return {
        "family": family,
        "kind": kind,
        "exact_families": sorted({f for f, k in zip(family, kind) if k == "exact_copy"}),
        "emails": emails,
        "phones": phones,
        "sizes": {
            "docs": len(texts),
            "chars": sum(len(t) for t in texts),
            "vocab_words": vocab_used,
            "near_dup_members": kind.count("near_member"),
            "exact_copies": kind.count("exact_copy"),
            "min_member_jaccard": round(min(member_jaccard), 4) if member_jaccard else None,
        },
    }


def cached(cache_dir: str, make, *args, **kwargs) -> tuple[str, dict]:
    """Run ``make(out_dir, *args, **kwargs)`` once per argument set;
    later calls read the ground truth back from ``truth.json``."""
    key = "_".join(str(a) for a in args) + "".join(f"_{k}{v}" for k, v in sorted(kwargs.items()))
    out_dir = os.path.join(cache_dir, f"{make.__name__}_{key}")
    truth_path = os.path.join(out_dir, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as fh:
            return out_dir, json.load(fh)
    truth = make(out_dir, *args, **kwargs)
    tmp = truth_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(truth, fh)
    os.replace(tmp, truth_path)
    return out_dir, truth
