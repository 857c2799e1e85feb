"""The workloads: inputs, one timed iteration, output checks, and the
traced composition of each.

A timed iteration drives the program only through
``rnadam_spark.cli.main([...])``. The traced run calls the layer
modules' public functions, one span per layer (see ``eventlog.Tracer``),
and forces each layer's output with ``localCheckpoint`` so the next
layer reads materialized rows.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pyarrow.parquet as pq

import gen

K = 20
EM_ITERATIONS = 5
NEAR_DUP_ARGS = ["-skip_normalize", "-near_dedup"]
LM_SAMPLE_FRAC = 0.1  # the curate command's -lm_sample_frac default
NEAR_JACCARD_MIN = 0.8  # the curate command's -near_jaccard_min default
LSH_MAX_BUCKET = 1000  # the curate command's -lsh_max_bucket default
QUALITY_MIN = 0.9  # the curate command's -quality_min default
# below this the near-dup pipeline is broken, not merely approximate
MIN_DUP_RECALL_PRECISION = 0.9
# L1 distance allowed between the quantify output and the nearest of
# model.py's outputs. On seeds 301-310 the product's output is within
# 6e-16 of the model's and
# a uniform output 0.007-0.017 away; on seeds 301-305, skipping Tare's
# k-mer recalibration moves the output 0.004-0.010, and adding 1 to 2%
# of the k-mer counts 6e-6 to 1.3e-5.
MAX_MODEL_L1 = 1e-6

SIZES = {
    "full": {
        "genomics": dict(n_genes=12, isoforms=3, gene_len=110, n_reads=1000, read_len=75),
        "near_dup": dict(n_docs=1500),
    },
    "tiny": {
        "genomics": dict(n_genes=3, isoforms=2, gene_len=150, n_reads=200, read_len=75),
        "near_dup": dict(n_docs=120),
    },
}


class CheckFailed(Exception):
    """An iteration's output broke one of the workload's invariants."""


def make_inputs(workload: str, cache_dir: str, seed: int, size: str) -> tuple[dict, dict]:
    """(paths, truth) for ``workload`` at ``seed``; generated once per
    (seed, size) and reused from ``cache_dir`` afterwards."""
    if workload == "quantify":
        d, truth = gen.cached(cache_dir, gen.make_genomics, seed, k=K, **SIZES[size]["genomics"])
        paths = {n: os.path.join(d, f"{n}.parquet") for n in ("genome", "genes", "reads")}
    else:
        d, truth = gen.cached(cache_dir, gen.make_corpus, seed, **SIZES[size][workload])
        paths = {"docs": os.path.join(d, "docs.parquet")}
    return paths, truth


def records(workload: str, truth: dict) -> int:
    """Input records one iteration processes: reads or documents."""
    return truth["sizes"]["reads" if workload == "quantify" else "docs"]


def cli_argvs(workload: str, paths: dict, work: str) -> tuple[list[list[str]], str]:
    """The CLI invocations of one iteration, and its output path."""
    if workload == "quantify":
        idx, out = os.path.join(work, "index"), os.path.join(work, "abundances")
        return [
            ["index", paths["genome"], paths["genes"], str(K), idx],
            [
                "quantify", paths["reads"], idx, paths["genes"], str(K), out,
                "-max_iterations", str(EM_ITERATIONS),
            ],
        ], out
    out = os.path.join(work, "curated")
    return [["curate", paths["docs"], out, *NEAR_DUP_ARGS]], out


# ---------------------------------------------------------------- outputs


def read_abundances(out: str) -> dict[str, float]:
    got: dict[str, float] = {}
    for f in sorted(glob.glob(os.path.join(out, "part-*"))):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    t_id, ab = line.strip().split(", ")
                    if t_id in got:
                        raise CheckFailed(f"transcript {t_id} written twice")
                    got[t_id] = float(ab)
    return got


def read_docs(out: str) -> dict[int, str]:
    table = pq.read_table(out, columns=["doc_id", "text"])
    ids = table.column("doc_id").to_pylist()
    texts = table.column("text").to_pylist()
    if len(set(ids)) != len(ids):
        raise CheckFailed("a doc_id is written twice")
    return dict(zip(ids, texts))


def _family_survivors(docs: dict[int, str], truth: dict) -> dict[int, tuple[int, int]]:
    """family → (planted members, surviving members), near-duplicate
    and exact-duplicate families alike."""
    fam_size: dict[int, int] = {}
    survivors: dict[int, int] = {}
    for doc_id, f in enumerate(truth["family"]):
        if f < 0:
            continue
        fam_size[f] = fam_size.get(f, 0) + 1
        survivors[f] = survivors.get(f, 0) + (doc_id in docs)
    return {f: (fam_size[f], survivors[f]) for f in fam_size}


def check(workload: str, out: str, truth: dict, state: dict) -> dict:
    """Check one iteration's output against the truth (for ``quantify``,
    the abundances ``model.py`` expects; for ``near_dup``, the planted
    families and PII); raise :class:`CheckFailed` on a broken invariant. Returns the quality
    numbers: ``truth_score`` plus the workload's own measures."""
    if workload == "quantify":
        got = read_abundances(out)
        planted = truth["abundance"]
        if set(got) != set(planted):
            raise CheckFailed(
                f"transcripts missing {sorted(set(planted) - set(got))[:5]} "
                f"or unknown {sorted(set(got) - set(planted))[:5]}"
            )
        total = sum(got.values())
        if abs(total - 1.0) > 1e-6:
            raise CheckFailed(f"abundances sum to {total!r}, not 1")
        model_l1 = min(sum(abs(got[t] - exp[t]) for t in exp) for exp in truth["expected"])
        if model_l1 > MAX_MODEL_L1:
            raise CheckFailed(f"abundances are {model_l1:.3g} (L1) from the expected ones")
        return {
            "truth_score": 1.0 - model_l1 / 2.0,
            "model_l1": model_l1,
            "abundance_l1": sum(abs(got[t] - planted[t]) for t in planted),
        }

    docs = read_docs(out)
    fams = _family_survivors(docs, truth)
    # exact dedup is deterministic: two survivors of an exact family is
    # a defect. LSH banding is not: a near-duplicate family that keeps
    # two members is a recall miss, counted in dup_recall.
    exact = set(truth["exact_families"])
    bad = [f for f, (_, s) in fams.items() if s > 1 and f in exact]
    if bad:
        raise CheckFailed(f"{len(bad)} planted exact-duplicate groups keep 2+ documents")
    for needle in truth["emails"] + truth["phones"]:
        hit = next((i for i, t in docs.items() if needle in t), None)
        if hit is not None:
            raise CheckFailed(f"planted PII {needle!r} survives in doc {hit}")
    digest = hashlib.sha256()
    for doc_id in sorted(docs):
        digest.update(f"{doc_id}\t{docs[doc_id]}\n".encode())
    fingerprint = [len(docs), digest.hexdigest()]
    if state.setdefault("fingerprint", fingerprint) != fingerprint:
        raise CheckFailed(f"output {fingerprint} differs from the first iteration's")
    planted_dups = sum(n - 1 for n, _ in fams.values())
    removed_dups = sum(min(n - s, n - 1) for n, s in fams.values())
    removed = len(truth["family"]) - len(docs)
    recall = removed_dups / planted_dups
    precision = removed_dups / removed if removed else 1.0
    if min(recall, precision) < MIN_DUP_RECALL_PRECISION:
        raise CheckFailed(f"dup_recall {recall:.3f}, dup_precision {precision:.3f}")
    return {
        "truth_score": 2 * recall * precision / (recall + precision),
        "dup_recall": recall,
        "dup_precision": precision,
    }


# ---------------------------------------------------------------- traced runs


def _force(df):
    return df.localCheckpoint(eager=True)


def trace(workload: str, spark, tracer, paths: dict, work: str) -> tuple[str, dict]:
    """Run the workload as spans around public layer functions; return
    the output path and the span counts."""
    if workload == "quantify":
        return _trace_quantify(spark, tracer, paths, work)
    out, counts = _trace_near_dup(spark, tracer, paths, work)
    counts.update(_trace_curate_stages(spark, tracer, paths))
    return out, counts


def _trace_quantify(spark, tr, paths, work):
    """The ``index`` command, then ``quantify()``'s body
    (algorithms/quantify.py) span by span, in the same order."""
    from pyspark.sql import functions as F

    from rnadam_spark.algorithms import quantify as Q
    from rnadam_spark.algorithms import tare
    from rnadam_spark.algorithms.index import build_index
    from rnadam_spark.sources import bio_formats as bio
    from rnadam_spark.sources import genomics as gio

    idx, out = os.path.join(work, "index"), os.path.join(work, "abundances")
    counts = {}
    with tr.span("index.build_index"):
        genome = bio.load_genome_any(spark, paths["genome"])
        transcripts = bio.load_transcripts_any(spark, paths["genes"])
        kmer_to_class, class_kmers, class_transcripts = build_index(transcripts, genome, K)
        gio.save_index(kmer_to_class, class_kmers, idx)
        class_transcripts.write.mode("overwrite").parquet(idx + "_members")
    reads = bio.load_reads_any(spark, paths["reads"])
    kmer_to_class, _ = gio.load_index(spark, idx)
    counts["index.build_index.rows_out"] = kmer_to_class.count()
    class_transcripts = spark.read.parquet(idx + "_members")
    transcripts = bio.load_transcripts_any(spark, paths["genes"])
    t_len = Q.transcript_lengths(transcripts).cache()
    with tr.span("quantify.count_read_kmers"):
        kmer_counts = _force(Q.count_read_kmers(reads, K))
    counts["quantify.count_read_kmers.rows_out"] = kmer_counts.count()
    with tr.span("tare.calibrate_kmers"):
        kmer_counts = _force(tare.calibrate_kmers(kmer_counts))
    with tr.span("quantify.map_kmers_to_classes"):
        class_counts = _force(Q.map_kmers_to_classes(kmer_counts, kmer_to_class))
    with tr.span("quantify.em_loop"):
        rel_kmers = Q.relative_class_kmers(class_counts).cache()
        edges = (
            class_transcripts.join(F.broadcast(rel_kmers), "class_id")
            .join(F.broadcast(t_len), "t_id")
            .repartition("class_id")
            .cache()
        )
        result = _force(
            Q.em_loop(
                class_counts, edges, transcripts, K, EM_ITERATIONS,
                calibrate_length_bias=True, t_len=t_len,
            )
        )
    with tr.span("genomics.save_abundances_text"):
        gio.save_abundances_text(result, out)
    return out, counts


def _trace_near_dup(spark, tr, paths, work):
    """``curate -skip_normalize -near_dedup`` (cli._run_curate) span by
    span: the scrub + quality + exact-dedup prefix up to the command's
    own lineage cut, then LSH candidates → verify → connected
    components → anti-join + sink."""
    from pyspark.sql import functions as F

    from rnadam_spark.functions.shingles import tokens
    from rnadam_spark.operators import dedup, text
    from rnadam_spark.operators.clustering import connected_components
    from rnadam_spark.sources.sink import write_partitioned

    out = os.path.join(work, "curated")
    counts = {}
    docs = spark.read.parquet(paths["docs"])
    with tr.span("dedup.exact_dup_groups"):
        passthrough = [c for c in docs.columns if c != "text"]
        cleaned, n_red = text.redaction_columns("text")
        scrubbed = docs.select(*passthrough, cleaned.alias("text"), n_red.alias("n_redactions"))
        scrubbed = (
            scrubbed.withColumn("__qt", tokens("text"))
            .withColumn("quality", text.quality_columns("text", toks=F.col("__qt"))["quality"])
            .drop("__qt")
        )
        kept = scrubbed.filter(F.col("quality") >= QUALITY_MIN)
        canon = dedup.exact_dup_groups(kept).select(
            F.col("canonical_id").alias("doc_id"), "n_dups"
        )
        curated = _force(kept.join(canon, "doc_id"))
    with tr.span("dedup.lsh_candidate_pairs"):
        cand = _force(dedup.lsh_candidate_pairs(curated, max_bucket=LSH_MAX_BUCKET))
    n_cand = cand.count()
    with tr.span("dedup.verify_pairs"):
        verified = _force(dedup.verify_pairs(cand, curated, threshold=NEAR_JACCARD_MIN))
    n_verified = verified.count()
    with tr.span("clustering.connected_components"):
        comp = _force(connected_components(verified))
    with tr.span("sink.write_partitioned"):
        losers = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        write_partitioned(
            curated.join(losers, "doc_id", "left_anti"), out, partition_by=["lang"]
        )
    counts["dedup.lsh_candidate_pairs.rows_out"] = n_cand
    counts["dedup.verify_pairs.rows_out"] = n_verified
    counts["dedup.verify_pairs.yield"] = n_verified / n_cand if n_cand else 0.0
    return out, counts


def _trace_curate_stages(spark, tr, paths) -> dict:
    """The text, repetition and LM stages of the ``curate`` command, each
    as its standalone public operator on the raw corpus. ``lm.lm_perplexity``
    times ``lm_perplexity_pandas``, the scorer the command runs."""
    from rnadam_spark.operators import lm, repetition, text
    from rnadam_spark.operators.sampling import hash_sample

    docs = spark.read.parquet(paths["docs"])
    for name, op in [
        ("text.normalize_text", text.normalize_text),
        ("text.c4_clean", text.c4_clean),
        ("text.gopher_quality", text.gopher_quality),
        ("text.redact_pii", text.redact_pii),
        ("text.quality_scores", text.quality_scores),
        ("repetition.repetition_stats", repetition.repetition_stats),
    ]:
        with tr.span(name):
            _force(op(docs))
    with tr.span("lm.train_char_lm"):
        model = _force(lm.train_char_lm(hash_sample(docs, "doc_id", LM_SAMPLE_FRAC)))
    with tr.span("lm.lm_perplexity"):
        _force(lm.lm_perplexity_pandas(docs, model))
    return {"lm.train_char_lm.rows_out": model.count()}


def output_bytes(out: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(out, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    )


def same_output(workload: str, a: str, b: str) -> str | None:
    """None when the traced output equals the untraced one (abundances
    within 1e-9 per transcript; documents exactly), else a reason."""
    if workload == "quantify":
        x, y = read_abundances(a), read_abundances(b)
        if set(x) != set(y):
            return "transcript sets differ"
        worst = max(abs(x[t] - y[t]) for t in x)
        return None if worst <= 1e-9 else f"abundance differs by {worst:g}"
    return None if read_docs(a) == read_docs(b) else "document sets differ"
