"""End-to-end corpus curation job: documents table → quality filter →
language filter → license allowlist → benchmark decontamination →
weighted source mixture → secret redaction → deterministic train/eval
split → curated corpus + report.

The step after :mod:`jobs.dedup_job` in a training-data run, wired from
the engine's oracled building blocks — every decision is content-derived
and deterministic, so re-running the job on a grown corpus never
reassigns an existing document's fate:

1. **quality**: :func:`jsl_engine.text_ops.quality_score` ≥ ``min_quality``
   (pure JVM expressions, one scan);
1b. **repetition** (with ``--max-dup-line-frac`` /
   ``--max-top-bigram-share``, floored by ``--repetition-min-words``):
   :func:`jsl_engine.text_ops.repetition_profile` drops boilerplate/spam
   documents whose duplicate-line fraction or top-bigram share exceeds
   the bound — the Gopher-style filters that length/punctuation scores
   miss;
2. **language**: :func:`jsl_engine.lang_arrow.language_id_arrow` restricted
   to ``--langs`` (Unicode-script counting + marker argmax);
2b. **fluency** (with ``--min-logprob``, deliberately AFTER the language
   filter — a pooled multilingual model under-scores minority
   languages): :func:`jsl_engine.text_ops.unigram_logprob_score` drops
   documents whose mean token log-probability under the corpus's own
   unigram model falls below the bound — the CCNet-style
   proxy-perplexity filter that catches gibberish and OCR noise token
   heuristics cannot;
3. **license** (with ``--licenses``):
   :func:`jsl_engine.code_ops.license_scan` keeps only documents whose
   detected license is in the allowlist (anchor-phrase regex CASE,
   map-only — the permissive-only filter every code-corpus run applies);
4. **decontamination** (with ``--benchmark``):
   :func:`jsl_engine.text_ops.contamination` drops documents sharing
   word n-grams with the held-out benchmark parquet (broadcast gram
   join — shuffle bounded by actual contamination);
5. **mixture**: :func:`jsl_engine.sampling.mixture_sample` applies
   per-source keep rates (codegen filter; nested under rate increases);
5b. **stratify** (with ``--stratify COL=N``): a class-balanced hard cap
   via :func:`jsl_engine.sampling.stratified_sample` — at most N docs
   per value of COL (e.g. per language), chosen by the deterministic
   content hash; scale-safe (the corpus is never shuffled: batch-local
   lossless top-n cut + exact window over the tiny survivors +
   broadcast semi-join back), and independent of the mixture's hash
   (distinct salts) so the two stages compose without bias;
5c. **DSIR selection** (with ``--dsir-target PARQUET --dsir-k N``):
   :func:`jsl_engine.dsir.dsir_sample` keeps the N surviving documents
   most like the target corpus under hashed-n-gram importance
   resampling (Gumbel-top-k over likelihood-ratio log-weights) — the
   domain/quality-targeting selection step of a pretraining mix;
   deterministic, map-only over the corpus;
6. **redaction** (with ``--redact``):
   :func:`jsl_engine.redaction.redact_secrets` replaces detected
   secrets/PII with placeholders (map-only JVM regexp);
7. **split**: :func:`jsl_engine.sampling.hash_split` assigns train/eval
   (stable under corpus growth), written as partition directories.
8. **tokenizer training** (with ``--bpe-merges N``):
   :func:`jsl_engine.bpe.train_bpe` learns a BPE merge table ON the
   written train split only (the tokenizer never sees eval text),
   writes it as a ``bpe_merges/`` artifact, and reports the train
   split's token budget in the tokenizer's own units via the map-only
   :func:`jsl_engine.bpe.bpe_encode`;
9. **chunking** (with ``--chunk TOKENS[:OVERLAP]``): writes a
   ``chunks/`` artifact — sliding windows over the WRITTEN corpus for
   context-length prep, carrying the split column so the train/eval
   boundary survives at chunk granularity (map-only). Window units are
   ``--chunk-space``: ``words`` (whitespace,
   :func:`jsl_engine.sampling.chunk_documents`) or ``bpe``
   (:func:`jsl_engine.bpe.chunk_documents_bpe` with the tokenizer THIS
   job trained — every chunk fits the context budget in the
   tokenizer's own units).

Usage::

    python jobs/curate_job.py [--input PARQUET] [--output DIR]
        [--min-quality 0.5]
        [--max-dup-line-frac 0.3] [--max-top-bigram-share 0.18]
        [--repetition-min-words 20] [--min-logprob -7.0]
        [--langs en,de,fr] [--licenses mit,apache-2.0]
        [--benchmark PARQUET]
        [--contamination-ngram 3] [--rate SRC=R ...] [--default-rate 1.0]
        [--stratify COL=N] [--dsir-target PARQUET --dsir-k N]
        [--redact] [--eval-permille 50] [--chunk TOKENS[:OVERLAP]]
        [--bpe-merges N] [--chunk-space words|bpe] [--cpus 8]
        [--keep-output]

Prints one JSON line: docs_in, quality_dropped, repetition_dropped,
lang_dropped, fluency_dropped, license_dropped, contamination_dropped,
mixture_dropped, stratify_dropped, dsir_dropped, secrets_redacted,
chunks, bpe_merges, bpe_tokens_train, train, eval, seconds,
docs_per_sec.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from jsl_engine.partitioning import get_spark
from jsl_engine.code_ops import license_scan
from jsl_engine.lang_arrow import language_id_arrow
from jsl_engine.redaction import redact_secrets
from jsl_engine.sampling import hash_split, mixture_sample
from jsl_engine.text_ops import (
    contamination,
    quality_score,
    repetition_profile,
    unigram_logprob_score,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01/documents.parquet")
    ap.add_argument("--output", default=None)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--max-dup-line-frac", type=float, default=None,
                    help="drop docs whose duplicate-line instance "
                         "fraction exceeds this (Gopher-style; e.g. 0.3)")
    ap.add_argument("--max-top-bigram-share", type=float, default=None,
                    help="drop docs whose most frequent word bigram "
                         "covers more than this share (e.g. 0.18)")
    ap.add_argument("--min-logprob", type=float, default=None,
                    help="drop docs whose mean token log-probability "
                         "under the corpus unigram model is below this "
                         "(CCNet-style fluency filter; e.g. -7.0)")
    ap.add_argument("--repetition-min-words", type=int, default=20,
                    help="repetition thresholds apply only to docs with "
                         "at least this many words (a W-word doc's top "
                         "bigram share is >= 1/(W-1), so an unfloored "
                         "share bound rejects ALL short docs)")
    ap.add_argument("--langs", default="",
                    help="comma-separated lang_id allowlist; empty = keep all")
    ap.add_argument("--dedup-lines", type=int, default=None,
                    help="strip lines appearing in >= N documents before "
                         "scoring (corpus-level boilerplate removal, "
                         "CCNet-style; e.g. 5)")
    ap.add_argument("--licenses", default="",
                    help="comma-separated license allowlist (license_scan "
                         "ids, e.g. mit,apache-2.0); empty = keep all")
    ap.add_argument("--benchmark", default=None,
                    help="parquet of benchmark docs (doc_id, text); drops "
                         "corpus docs sharing n-grams with it")
    ap.add_argument("--contamination-ngram", type=int, default=3)
    ap.add_argument("--redact", action="store_true",
                    help="replace detected secrets/PII with placeholders")
    ap.add_argument("--rate", action="append", default=[],
                    help="SRC=RATE per-source mixture keep rate (repeatable)")
    ap.add_argument("--temperature", type=float, default=None,
                    help="derive per-source rates from temperature-scaled "
                         "source sizes (rate_s = (n_s/n_min)^(T-1); T=1 "
                         "natural, T->0 uniform); exclusive with --rate")
    ap.add_argument("--default-rate", type=float, default=1.0)
    ap.add_argument("--stratify", default=None,
                    help="COL=N class-balanced cap after the mixture: keep "
                         "at most N docs per value of COL (e.g. lang=50000 "
                         "balances languages), chosen by the deterministic "
                         "content hash — the scale-safe stratified sampler "
                         "(corpus never shuffled; batch-local lossless cut "
                         "+ broadcast semi-join)")
    ap.add_argument("--dsir-target", default=None,
                    help="parquet path of a target/reference corpus: keep "
                         "only the --dsir-k surviving docs most like it "
                         "under DSIR hashed-n-gram importance resampling "
                         "(Gumbel-top-k over likelihood-ratio weights; "
                         "deterministic, corpus never shuffled)")
    ap.add_argument("--dsir-k", type=int, default=None,
                    help="number of docs the DSIR stage keeps "
                         "(required with --dsir-target)")
    ap.add_argument("--eval-permille", type=int, default=50)
    ap.add_argument("--chunk", default=None,
                    help="also write a chunks/ artifact: sliding-window "
                         "document chunks for context-length prep, "
                         "TOKENS or TOKENS:OVERLAP (e.g. 128:32; "
                         "default overlap = TOKENS//4). Chunks carry "
                         "the split column, so the train/eval boundary "
                         "is preserved at chunk granularity")
    ap.add_argument("--chunk-space", choices=("words", "bpe"),
                    default="words",
                    help="chunk window units: 'words' (whitespace tokens) "
                         "or 'bpe' (the tokenizer trained by "
                         "--bpe-merges — every chunk fits the context "
                         "budget in the tokenizer's own units)")
    ap.add_argument("--bpe-merges", type=int, default=None,
                    help="train a BPE tokenizer ON the written train "
                         "split (N merges), write the merge table as a "
                         "bpe_merges/ artifact, and report the train "
                         "split's token budget in the tokenizer's own "
                         "units (bpe_tokens_train)")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--keep-output", action="store_true")
    args = ap.parse_args()

    rates = {}
    for spec in args.rate:
        src, sep, r = spec.partition("=")
        if not sep or not src or not r:
            ap.error(f"--rate expects SRC=RATE, got {spec!r}")
        rates[src] = float(r)
    # validate the invocation BEFORE the filter pipeline runs: at scale
    # the stages ahead are minutes-to-hours of Spark work, and burning
    # them before rejecting conflicting flags is hostile
    if args.temperature is not None:
        if rates:
            ap.error("--temperature and --rate are mutually exclusive")
        if args.temperature <= 0:
            ap.error(f"--temperature must be > 0, got {args.temperature}")
    langs = [l for l in args.langs.split(",") if l]
    licenses = [l for l in args.licenses.split(",") if l]

    out_dir = args.output or tempfile.mkdtemp(prefix="jsl_curate_")
    spark = get_spark(
        f"local[{args.cpus}]",
        app_name="jsl-curate-job",
        shuffle_partitions=max(8, args.cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    docs_in = docs.count()

    # stage 0 (optional): corpus-level line dedup BEFORE scoring — the
    # CCNet order: boilerplate lines would otherwise drag every scorer
    # (quality/repetition/fluency) toward the shared chrome instead of
    # the document's own content. Rewrites text; keeps the other columns.
    n_lines_removed = 0
    if args.dedup_lines is not None:
        from jsl_engine.text_ops import remove_frequent_lines

        extra = tuple(c for c in docs.columns if c not in ("doc_id", "text"))
        cleaned = remove_frequent_lines(
            docs, min_docs=args.dedup_lines, keep_cols=extra
        ).localCheckpoint()
        n_lines_removed = cleaned.agg(
            F.sum("n_removed").cast("long")
        ).first()[0] or 0
        docs = cleaned.drop("n_lines", "n_removed")

    # localCheckpoint after each filter stage: the per-stage report
    # counts and the final write are separate actions — without
    # materialization the quality-profile regexes and language-ID scans
    # would re-execute for every downstream action
    q = quality_score(docs).where(F.col("quality") >= args.min_quality)
    survivors = docs.join(q.select("doc_id"), "doc_id").localCheckpoint()
    n_quality = survivors.count()

    if args.max_dup_line_frac is not None or args.max_top_bigram_share is not None:
        # compute only the requested metric family — each is the dominant
        # cost of its branch (line HOFs vs the bigram explode+shuffle)
        rep = repetition_profile(
            survivors,
            with_lines=args.max_dup_line_frac is not None,
            with_bigrams=args.max_top_bigram_share is not None,
        )
        # thresholds gate only docs above the word floor: short docs are
        # never repetition-dropped (their bigram share is high by pigeonhole,
        # not by spam). NULL metrics (NULL text) also pass — repetition is
        # not their drop reason, and a NULL predicate would silently drop
        # them (mirrors the fluency stage's isNull exemption)
        short = (
            F.col("n_words").isNull()
            | (F.col("n_words") < args.repetition_min_words)
        )
        keep = F.lit(True)
        if args.max_dup_line_frac is not None:
            keep = keep & (
                short
                | F.col("dup_line_frac").isNull()
                | (F.col("dup_line_frac") <= args.max_dup_line_frac)
            )
        if args.max_top_bigram_share is not None:
            keep = keep & (
                short
                | F.col("top_bigram_share").isNull()
                | (F.col("top_bigram_share") <= args.max_top_bigram_share)
            )
        rep = rep.where(keep)
        survivors = survivors.join(rep.select("doc_id"), "doc_id").localCheckpoint()
        n_repetition = survivors.count()
    else:
        n_repetition = n_quality

    if langs:
        lid = language_id_arrow(survivors).where(F.col("lang_id").isin(langs))
        survivors = survivors.join(lid.select("doc_id"), "doc_id").localCheckpoint()
        n_lang = survivors.count()
    else:
        n_lang = n_repetition

    # fluency runs AFTER the language filter: a self-scored unigram model
    # over a multilingual corpus systematically under-scores minority
    # languages (their tokens are rare in the pooled counts), so scoring
    # the language-filtered corpus is the per-language model the
    # CCNet-style filter intends
    if args.min_logprob is not None:
        lp = unigram_logprob_score(survivors).where(
            F.col("mean_logprob").isNull()          # empty docs: not fluency's call
            | (F.col("mean_logprob") >= args.min_logprob)
        )
        survivors = survivors.join(lp.select("doc_id"), "doc_id").localCheckpoint()
        n_fluency = survivors.count()
    else:
        n_fluency = n_lang

    if licenses:
        lic = license_scan(survivors).where(F.col("license").isin(licenses))
        survivors = survivors.join(lic.select("doc_id"), "doc_id").localCheckpoint()
        n_license = survivors.count()
    else:
        n_license = n_fluency

    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        clean = contamination(
            survivors, bench, n=args.contamination_ngram
        ).where(~F.col("contaminated")).select("doc_id")
        survivors = survivors.join(clean, "doc_id").localCheckpoint()
        n_decon = survivors.count()
    else:
        n_decon = n_license

    if args.temperature is not None:
        from jsl_engine.sampling import temperature_rates

        # rates from the SURVIVOR distribution: the recipe balances what
        # actually enters the mix, not the pre-filter corpus (flag
        # conflicts were rejected at parse time, before the pipeline ran)
        rates = temperature_rates(survivors, temperature=args.temperature)
    mixed = mixture_sample(survivors, rates, default_rate=args.default_rate)
    n_mixed = mixed.count()

    if args.stratify:
        from jsl_engine.sampling import stratified_sample

        col, sep, cap = args.stratify.partition("=")
        if not sep or not col or not cap.isdigit():
            ap.error(f"--stratify expects COL=N, got {args.stratify!r}")
        mixed = stratified_sample(mixed, [col], int(cap)).localCheckpoint()
        n_stratified = mixed.count()
    else:
        n_stratified = n_mixed

    if args.dsir_target:
        if not args.dsir_k:
            ap.error("--dsir-target requires --dsir-k")
        from jsl_engine.dsir import dsir_sample

        tgt = spark.read.parquet(args.dsir_target)
        keep = dsir_sample(mixed, tgt, args.dsir_k).select("doc_id")
        mixed = (
            mixed.join(F.broadcast(keep), "doc_id", "semi").localCheckpoint()
        )
        n_dsir = mixed.count()
    else:
        n_dsir = n_stratified

    n_redactions = 0
    if args.redact:
        red = redact_secrets(mixed).localCheckpoint()
        n_redactions = red.agg(F.sum("n_redactions")).first()[0] or 0
        mixed = mixed.drop("text").join(
            red.select("doc_id", F.col("redacted").alias("text")), "doc_id"
        )

    final = hash_split(mixed, eval_permille=args.eval_permille)
    final.write.mode("overwrite").partitionBy("split").parquet(
        f"{out_dir}/documents"
    )
    n_bpe_merges = 0
    n_bpe_tokens = 0
    merges = None
    if args.bpe_merges:
        from jsl_engine.bpe import bpe_encode, train_bpe

        # train on the WRITTEN train split only: the tokenizer must never
        # see eval text (the same leakage rule the benchmark
        # decontamination stage enforces for documents)
        train_docs = spark.read.parquet(f"{out_dir}/documents").where(
            "split = 'train'"
        )
        merges = train_bpe(train_docs, n_merges=args.bpe_merges)
        spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "rank int, left string, right string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/bpe_merges")
        n_bpe_merges = len(merges)
        n_bpe_tokens = bpe_encode(train_docs, merges).agg(
            F.sum("n_tokens")
        ).first()[0] or 0
    n_chunks = 0
    if args.chunk:
        tok, sep, ov = args.chunk.partition(":")
        if not tok.isdigit() or (sep and not ov.isdigit()):
            ap.error(f"--chunk expects TOKENS or TOKENS:OVERLAP, got {args.chunk!r}")
        chunk_tokens = int(tok)
        overlap = int(ov) if sep else chunk_tokens // 4
        # chunk the WRITTEN corpus (not the pre-write plan): the chunks
        # artifact must reflect exactly what landed in documents/, and
        # re-reading parquet is cheaper than re-running the filter chain
        written_docs = spark.read.parquet(f"{out_dir}/documents")
        if args.chunk_space == "bpe":
            # token-space windows with the tokenizer THIS job trained —
            # every chunk fits the context budget by construction
            if merges is None:
                ap.error("--chunk-space bpe requires --bpe-merges "
                         "(the windows are cut in that tokenizer's units)")
            from jsl_engine.bpe import chunk_documents_bpe

            chunks = chunk_documents_bpe(
                written_docs.select("doc_id", "text", "split"),
                merges,
                chunk_tokens=chunk_tokens,
                overlap=overlap,
                keep_text=True,
            ).join(written_docs.select("doc_id", "split"), "doc_id")
        else:
            from jsl_engine.sampling import chunk_documents

            chunks = chunk_documents(
                written_docs,
                chunk_tokens=chunk_tokens,
                overlap=overlap,
                keep_text=True,
                keep_cols=("split",),
            )
        chunks.write.mode("overwrite").partitionBy("split").parquet(
            f"{out_dir}/chunks"
        )
        n_chunks = spark.read.parquet(f"{out_dir}/chunks").count()
    written = spark.read.parquet(f"{out_dir}/documents")
    counts = {r["split"]: r["n"] for r in
              written.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    seconds = round(time.time() - t0, 3)

    print(json.dumps({
        "docs_in": docs_in,
        "lines_removed": int(n_lines_removed),
        "quality_dropped": docs_in - n_quality,
        "repetition_dropped": n_quality - n_repetition,
        "lang_dropped": n_repetition - n_lang,
        "fluency_dropped": n_lang - n_fluency,
        "license_dropped": n_fluency - n_license,
        "contamination_dropped": n_license - n_decon,
        "mixture_dropped": n_decon - n_mixed,
        "stratify_dropped": n_mixed - n_stratified,
        "dsir_dropped": n_stratified - n_dsir,
        "secrets_redacted": int(n_redactions),
        "chunks": int(n_chunks),
        "bpe_merges": int(n_bpe_merges),
        "bpe_tokens_train": int(n_bpe_tokens),
        "train": counts.get("train", 0),
        "eval": counts.get("eval", 0),
        "seconds": seconds,
        "docs_per_sec": round(docs_in / seconds, 1),
    }))
    if not args.keep_output and args.output is None:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
