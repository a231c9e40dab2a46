"""CLI — the engine's answer to the reference's hadoop-streaming
invocation (README.rst:217-219 / fileformat.rst:37):

  python -m wikihadoop_spark diffdb --input dump.xml[.bz2] --output out/ \
      [--exclude-pages-with REGEX] [--split-size BYTES] [--cores N] \
      [--compression gzip]

  python -m wikihadoop_spark revisions --input dump.xml --output out/  # parquet revisions table

  python -m wikihadoop_spark dedup --input docs.parquet --output clusters/ \
      [--id-col doc_id] [--text-col text] [--threshold 0.5] \
      [--n-hashes 16] [--bands 4] [--bucket-cap 1000] [--keepers-only]

  python -m wikihadoop_spark curate --input docs.parquet --output shards/ \
      [--benchmark eval.parquet] [--weights src0=10,src1=3] \
      [--token-budget N] [--shard-budget N] [--threshold 0.5]

Produces the diffdb TSV (py2-repr compatible, fileformat.rst:6-27), a
typed parquet revisions table, or near-duplicate cluster assignments
(MinHash → LSH → connected components; one keeper per cluster).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="wikihadoop_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--input", required=True, help="dump path or glob (.xml/.bz2/.gz)")
    common.add_argument("--output", required=True)
    common.add_argument("--exclude-pages-with", default=None,
                        help="regex; matching page titles are skipped (reference F1)")
    common.add_argument("--split-size", type=int, default=32 * 1024 * 1024)
    common.add_argument("--cores", type=int, default=None)

    d = sub.add_parser("diffdb", parents=[common], help="full diff pipeline -> TSV")
    d.add_argument("--compression", default="gzip")

    sub.add_parser("revisions", parents=[common], help="typed revisions -> parquet")

    dd = sub.add_parser(
        "dedup",
        help="near-dup clusters over a parquet corpus (MinHash -> LSH -> components)",
    )
    dd.add_argument("--input", required=True, help="parquet path/glob with id + text columns")
    dd.add_argument("--output", required=True)
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--threshold", type=float, default=0.5,
                    help="minimum estimated Jaccard for a pair to become an edge")
    dd.add_argument("--n-hashes", type=int, default=16)
    dd.add_argument("--bands", type=int, default=4)
    dd.add_argument("--bucket-cap", type=int, default=1000,
                    help="deterministic hot-bucket participation cap "
                         "(dropped members are counted and reported)")
    dd.add_argument("--keepers-only", action="store_true",
                    help="write only one row per cluster (the minimum id)")
    dd.add_argument("--cores", type=int, default=None)

    rp = sub.add_parser(
        "report",
        help="one-pass per-source data card (docs/tokens/quality/dup-rate/percentiles) -> JSON",
    )
    rp.add_argument("--input", required=True, help="parquet corpus")
    rp.add_argument("--output", required=True, help="JSON file to write")
    rp.add_argument("--text-col", default="text")
    rp.add_argument("--group-col", default="source")
    rp.add_argument("--quality-threshold", type=int, default=0)
    rp.add_argument("--cores", type=int, default=None)

    s = sub.add_parser(
        "shard",
        help="split a (bz2/gz/plain) dump into page-aligned shards for parallel reads",
    )
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--shard-size", type=int, default=64 * 1024 * 1024)
    s.add_argument("--compress", choices=["bz2", "gz"], default=None)

    an = sub.add_parser(
        "ann",
        help="int8 ANN index over a parquet embedding corpus: build "
             "(train once, write the quantized+clustered artifact), "
             "append (assign new vectors, no re-train), search (top-k "
             "over the written index)",
    )
    an.add_argument("action", choices=["build", "append", "search"])
    an.add_argument("--input", required=True,
                    help="parquet with id + embedding columns "
                         "(corpus for build, new vectors for append, "
                         "queries for search)")
    an.add_argument("--index", required=True,
                    help="index directory (written by build, grown by "
                         "append, read by search)")
    an.add_argument("--output", default=None,
                    help="search results parquet (search only)")
    an.add_argument("--id-col", default="vec_id")
    an.add_argument("--vec-col", default="embedding")
    an.add_argument("--clusters", type=int, default=8,
                    help="IVF coarse-quantizer size K (build only)")
    an.add_argument("--iterations", type=int, default=2,
                    help="integer-Lloyd iterations (build only)")
    an.add_argument("--topk", type=int, default=10)
    an.add_argument("--nprobe", type=int, default=4,
                    help="clusters probed per query (search only)")
    an.add_argument("--cores", type=int, default=None)

    c = sub.add_parser(
        "curate",
        help="full training-data curation: quality filter -> exact dedup -> "
             "near-dedup -> decontaminate -> mixture -> token-budget shards",
    )
    c.add_argument("--input", required=True, help="corpus (id/text/group columns)")
    c.add_argument("--output", required=True,
                   help="destination: shard dirs with --shard-budget, else curated corpus")
    c.add_argument("--input-format", choices=["parquet", "jsonl"], default="parquet",
                   help="jsonl reads *.jsonl[.gz|.zst] shards (explicit schema, "
                        "no inference pass)")
    c.add_argument("--input-schema", default=None,
                   help="DDL schema for --input-format jsonl "
                        "(default: the documents-table shape)")
    c.add_argument("--output-format", choices=["parquet", "jsonl"], default="parquet",
                   help="jsonl writes gzip line shards (trainer interchange layout); "
                        "parquet-only with --shard-budget")
    c.add_argument("--output-shards", type=int, default=None,
                   help="output file count, jsonl or parquet (a compressed "
                        "jsonl shard is non-splittable: files = next reader's "
                        "tasks); incompatible with --shard-budget, which "
                        "derives file layout from the token budget")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--group-col", default="source")
    c.add_argument("--quality-threshold", type=int, default=0)
    c.add_argument("--threshold", type=float, default=0.5,
                   help="minimum estimated Jaccard treated as a near-duplicate")
    c.add_argument("--bucket-cap", type=int, default=1000)
    c.add_argument("--keeper", choices=["min_id", "best_quality"], default="min_id",
                   help="which member survives a near-dup cluster")
    c.add_argument("--benchmark", default=None,
                   help="parquet with a text column; matching docs are removed")
    c.add_argument("--weights", default=None,
                   help="mixture weights, e.g. src0=10,src1=3 (others --default-weight)")
    c.add_argument("--default-weight", type=int, default=1)
    c.add_argument("--token-budget", type=int, default=None)
    c.add_argument("--waterfill", action="store_true",
                   help="redistribute capped groups' unused mixture budget")
    c.add_argument("--shard-budget", type=int, default=None,
                   help="tokens per output shard (one parquet file per shard)")
    c.add_argument("--shuffle-seed", type=int, default=None,
                   help="pack shards in deterministic pseudo-random order "
                        "(training shuffle; reproducible on any cluster)")
    c.add_argument("--strip-boilerplate", action="store_true",
                   help="segment-frequency dedup: strip lines occurring in "
                        ">=2 docs corpus-wide (first copy kept) before "
                        "near-dedup and token counts")
    c.add_argument("--dedup-spans", action="store_true",
                   help="exact-substring span dedup: remove duplicated "
                        "k-token spans at arbitrary offsets (first copy "
                        "kept) before near-dedup and token counts")
    c.add_argument("--span-k", type=int, default=None,
                   help="span-dedup window size in tokens "
                        "(default 5; requires --dedup-spans)")
    c.add_argument("--span-min-count", type=int, default=None,
                   help="occurrences for a window to count as duplicated "
                        "(default 2; requires --dedup-spans)")
    c.add_argument("--c4-rules", action="store_true",
                   help="C4 line rules: keep only >=3-word lines ending in "
                        "terminal punctuation, drop javascript lines and "
                        "lorem-ipsum/curly-brace pages (before the quality "
                        "gate)")
    c.add_argument("--scrub-pii", action="store_true",
                   help="redact emails/IPs/id runs BEFORE any stage derives "
                        "from the text (pii_redactions counter printed)")
    c.add_argument("--lm-reference", default=None,
                   help="parquet corpus to fit the unigram LM on; enables "
                        "the CCNet perplexity tail-drop gate (fit terciles "
                        "on the input corpus, drop the worst bucket)")
    c.add_argument("--lm-buckets", type=int, default=3,
                   help="perplexity buckets for the tail-drop gate "
                        "(default 3 = CCNet head/middle/tail; requires "
                        "--lm-reference)")
    c.add_argument("--lm-max-entries", type=int, default=None,
                   help="prune the LM scoring table to its N most-frequent "
                        "tokens (bounded broadcast artifact; the max "
                        "per-token error bound in bits is printed)")
    c.add_argument("--chunk-tokens", type=int, default=None,
                   help="split curated docs into training-sequence windows "
                        "of this many tokens before packing")
    c.add_argument("--chunk-stride", type=int, default=None,
                   help="chunk stride (default: disjoint chunks)")
    c.add_argument("--cores", type=int, default=None)

    args = ap.parse_args(argv)

    if args.cmd == "curate":
        from .plans.curation import curate_corpus
        from .session import get_spark

        weights = None
        if args.weights:
            weights = {
                k: int(v)
                for k, v in (kv.split("=", 1) for kv in args.weights.split(","))
            }
        if args.shard_budget is not None and args.output_format == "jsonl":
            ap.error("--shard-budget writes parquet shards; drop --output-format jsonl")
        if args.shard_budget is not None and args.output_shards is not None:
            ap.error(
                "--output-shards conflicts with --shard-budget: token-budget "
                "packing derives one file per shard from the budget"
            )
        if (args.span_k is not None or args.span_min_count is not None) \
                and not args.dedup_spans:
            ap.error(
                "--span-k/--span-min-count configure span dedup, which "
                "only runs with --dedup-spans — silently ignoring them "
                "would mask the intent"
            )
        spark = get_spark("wikihadoop-curate", cpus=args.cores)
        try:
            if args.input_format == "jsonl":
                from .sources.jsonl import DOCUMENT_SCHEMA_DDL, read_corpus_jsonl

                docs = read_corpus_jsonl(
                    spark, args.input, args.input_schema or DOCUMENT_SCHEMA_DDL
                )
            else:
                docs = spark.read.parquet(args.input)
            bench = spark.read.parquet(args.benchmark) if args.benchmark else None
            lm_table, lm_max_bits = None, None
            if args.lm_reference:
                # CCNet's production shape end-to-end: fit the LM on
                # the reference corpus, collect it as the driver-held
                # scoring artifact (optionally pruned with a printed
                # error bound), fit the bucket thresholds on THIS
                # corpus's scores, and gate out the worst bucket with
                # one scalar compare inside the chain
                from .operators.lm_score import (
                    collect_lm_table,
                    perplexity_thresholds,
                    prune_lm_table,
                    surprisal_rowwise,
                    unigram_model,
                )

                ref = spark.read.parquet(args.lm_reference)
                model = unigram_model(ref, text_col=args.text_col)
                table, ceil = collect_lm_table(model)
                if args.lm_max_entries is not None:
                    table, err = prune_lm_table(
                        table, ceil, args.lm_max_entries
                    )
                    print(
                        f"lm table pruned to {len(table)} entries "
                        f"(max per-token error: {err} bits, "
                        f"<= {1000 * err} milli-bits per document)"
                    )
                # fit the thresholds on the SAME text the in-chain gate
                # will score: with --scrub-pii the chain redacts before
                # stage 1.6, so the fitting frame must be scrubbed too
                # or redaction-heavy documents flip buckets at the gate
                fit_docs = docs
                if args.scrub_pii:
                    from pyspark.sql import functions as F

                    from .functions.scrub import scrub_pii

                    fit_docs = docs.withColumn(
                        args.text_col, scrub_pii(F.col(args.text_col))
                    )
                thresholds = perplexity_thresholds(
                    surprisal_rowwise(fit_docs, table, ceil,
                                      text_col=args.text_col),
                    n_buckets=args.lm_buckets,
                )
                if thresholds:
                    lm_table, lm_max_bits = (table, ceil), thresholds[-1]
                    print(
                        f"lm tail-drop gate: keep lm_bits <= "
                        f"{lm_max_bits} (bucket <= {args.lm_buckets - 1} "
                        f"of {args.lm_buckets})"
                    )
                else:
                    print(
                        "lm gate skipped: score domain has fewer "
                        "distinct values than buckets (every document "
                        "already passes the loosest gate)"
                    )
            res = curate_corpus(
                docs,
                id_col=args.id_col,
                text_col=args.text_col,
                group_col=args.group_col,
                quality_threshold=args.quality_threshold,
                near_dup_threshold=args.threshold,
                bucket_cap=args.bucket_cap,
                keeper=args.keeper,
                benchmark=bench,
                mixture_weights=weights,
                token_budget=args.token_budget,
                default_weight=args.default_weight,
                waterfill=args.waterfill,
                lm_table=lm_table,
                lm_max_bits=lm_max_bits,
                shard_budget=args.shard_budget,
                out_dir=args.output if args.shard_budget else None,
                scrub=args.scrub_pii,
                c4_rules=args.c4_rules,
                strip_boilerplate=args.strip_boilerplate,
                dedup_spans=args.dedup_spans,
                span_k=args.span_k if args.span_k is not None else 5,
                span_min_count=(
                    args.span_min_count
                    if args.span_min_count is not None
                    else 2
                ),
                chunk_tokens=args.chunk_tokens,
                chunk_stride=args.chunk_stride,
                shuffle_seed=args.shuffle_seed,
            )
            if args.shard_budget is None:
                # this write is the action that fires the stage counters
                # (the shard path already fired them via its checkpoint)
                if args.output_format == "jsonl":
                    from .sources.jsonl import write_corpus_jsonl

                    write_corpus_jsonl(
                        res.curated,
                        args.output,
                        shards=args.output_shards,
                        mode="overwrite",
                    )
                else:
                    out_df = res.curated
                    if args.output_shards is not None:
                        # honored for parquet too (same knob as jsonl):
                        # explicit output file count, one round-robin
                        # shuffle — silently ignoring the flag would
                        # mask the user's intent
                        out_df = out_df.repartition(args.output_shards)
                    out_df.write.mode("overwrite").parquet(args.output)
            stages = " -> ".join(f"{k}:{v}" for k, v in res.counts().items())
            print(f"curated {stages} -> {args.output}")
            return 0
        finally:
            spark.stop()

    if args.cmd == "ann":
        import os as _os

        from pyspark.sql import functions as F

        from .operators.quantize import (
            cosine_topk_int8_ivf,
            int_norm2,
            ivf_append_int8,
            ivf_build_int8,
            ivf_read_int8,
            ivf_write_int8,
            quantize_int8,
        )
        from .session import get_spark

        spark = get_spark("wikihadoop-ann", cpus=args.cores)
        try:
            qn = (
                spark.read.parquet(args.input)
                .select(
                    args.id_col,
                    quantize_int8(
                        F.col(args.vec_col).cast("array<double>")
                    ).alias("q"),
                )
                .withColumn("n2", int_norm2(F.col("q")))
                .filter(F.col("n2") > 0)
            )
            if args.action == "build":
                tagged, cents = ivf_build_int8(
                    qn, id_col=args.id_col, q_col="q",
                    k=args.clusters, iterations=args.iterations,
                )
                tagged = tagged.withColumn("n2", int_norm2(F.col("q")))
                ivf_write_int8(tagged, cents, args.index)
                n = spark.read.parquet(
                    _os.path.join(args.index, "vectors")
                ).count()
                print(
                    f"ann build: {n} vectors, {len(cents)} clusters "
                    f"-> {args.index} (train once; append/search never "
                    "re-run the Lloyd)"
                )
            elif args.action == "append":
                _, cents = ivf_read_int8(spark, args.index)
                n = ivf_append_int8(
                    qn, cents, args.index, id_col=args.id_col, q_col="q"
                )
                print(
                    f"ann append: {n} vectors assigned to the "
                    f"trained centroids -> {args.index} (no re-train)"
                )
            else:  # search
                if not args.output:
                    raise SystemExit("ann search requires --output")
                tagged, cents = ivf_read_int8(spark, args.index)
                res = cosine_topk_int8_ivf(
                    tagged, cents, qn, id_col=args.id_col, q_col="q",
                    n2_col="n2", k=args.topk, nprobe=args.nprobe,
                )
                res.write.mode("overwrite").parquet(args.output)
                n = spark.read.parquet(args.output).count()
                print(
                    f"ann search: {n} result rows (top-{args.topk}, "
                    f"nprobe={args.nprobe}) -> {args.output}"
                )
            return 0
        finally:
            spark.stop()

    if args.cmd == "report":
        from .plans.report import corpus_report, write_report
        from .session import get_spark

        spark = get_spark("wikihadoop-report", cpus=args.cores)
        try:
            rep = corpus_report(
                spark.read.parquet(args.input),
                text_col=args.text_col,
                group_col=args.group_col,
                quality_threshold=args.quality_threshold,
            )
            write_report(rep, args.output)
            t = rep["total"]
            print(
                f"report: {t['docs']} docs, {t['tokens']} tokens, "
                f"{len(rep['groups'])} groups -> {args.output}"
            )
            return 0
        finally:
            spark.stop()

    if args.cmd == "shard":
        from .sources.shard import shard_dump

        paths = shard_dump(
            args.input,
            args.output,
            shard_bytes=args.shard_size,
            compress=args.compress,
        )
        print(f"{len(paths)} shards -> {args.output}")
        return 0

    if args.cmd == "dedup":
        from pyspark.sql import functions as F

        from .observability import TruncationCounter
        from .operators.components import component_summary, connected_components
        from .operators.dedup import lsh_candidate_pairs, minhash_signatures
        from .session import get_spark

        spark = get_spark("wikihadoop-dedup", cpus=args.cores)
        try:
            docs = spark.read.parquet(args.input)
            sig = minhash_signatures(
                docs, id_col=args.id_col, text_col=args.text_col,
                n_hashes=args.n_hashes,
            )
            obs = TruncationCounter()
            pairs = lsh_candidate_pairs(
                sig, id_col=args.id_col, n_hashes=args.n_hashes,
                bands=args.bands, bucket_cap=args.bucket_cap, observation=obs,
            ).filter(F.col("est_jaccard") >= args.threshold)
            cc = connected_components(
                docs.select(args.id_col), pairs, id_col=args.id_col
            )
            out = component_summary(cc, id_col=args.id_col)
            if args.keepers_only:
                out = out.filter(F.col("is_keeper"))
            out.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            # pruned counter branch (no bucket held >1 member) == 0 dropped
            from .observability import read_counter

            dropped = read_counter(obs, default=0)
            print(f"{n} rows -> {args.output} (bucket-cap dropped members: {dropped};"
                  " nonzero means raise --bucket-cap if full connectivity matters)")
            return 0
        finally:
            spark.stop()

    from .observability import observed_counts
    from .plans.diffdb import build_diffdb, write_diffdb_tsv
    from .session import get_spark
    from .sources.wikidump import BASE_SCHEMA_DDL, SCHEMA_DDL, read_wikidump

    spark = get_spark("wikihadoop-cli", cpus=args.cores)
    try:
        # the revisions table is the base schema (FIXTURES.md §1): the
        # scan neither pairs texts nor diffs for it
        revs = read_wikidump(
            spark,
            args.input,
            schema=BASE_SCHEMA_DDL if args.cmd == "revisions" else SCHEMA_DDL,
            splitSize=str(args.split_size),
        )

        if args.cmd == "revisions":
            if args.exclude_pages_with:
                from pyspark.sql import functions as F

                revs = revs.filter(~F.col("title").rlike(args.exclude_pages_with))
            revs, obs = observed_counts(revs, written_revisions=None)
            revs.write.mode("overwrite").parquet(args.output)
            print(f"revisions written: {obs.get['written_revisions']} -> {args.output}")
            return 0

        diff = build_diffdb(revs, exclude_pages_with=args.exclude_pages_with)
        counts = write_diffdb_tsv(
            diff, args.output, compression=args.compression or None
        )
        print(
            f"diffdb written: {counts['written_revisions']} revisions of"
            f" {counts['written_pages']} pages ({counts['path']}) -> {args.output}"
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
