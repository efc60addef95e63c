"""Command-line entry points (the engine twin of the reference's per-tool
args4j/Scallop CLIs, SURVEY §2.13 — one argparse surface instead of a
class per job).

  python -m bigdata2016w_spark list
  python -m bigdata2016w_spark run q7_top_revenue --sf-dir /root/testdata/sf0.01
  python -m bigdata2016w_spark run dedup_jaccard --explain --limit 5
  python -m bigdata2016w_spark retrieve "mercy justice AND"
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="bigdata2016w_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a registered query")
    runp.add_argument("query")
    runp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--explain", action="store_true",
                      help="print the formatted physical plan instead of rows")
    runp.add_argument("--output", help="write full result as parquet here")

    retp = sub.add_parser(
        "retrieve",
        help="boolean RPN retrieval over the documents table "
             "(BooleanRetrievalCompressed.java:46-77's query surface)",
    )
    retp.add_argument("rpn", help='postfix boolean query, e.g. "mercy justice AND"')
    retp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    retp.add_argument("--limit", type=int, default=20)

    expp = sub.add_parser(
        "export",
        help="end-to-end training-set export: curate (quality + near-dup "
             "removal) -> 80/20 split -> parquet train/test + datacard",
    )
    expp.add_argument("output", help="output directory")
    expp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    expp.add_argument(
        "--dedup",
        choices=("jaccard", "winnow", "exact", "semdedup"),
        default="jaccard",
        help="near-dup removal tier for the curation gate (survivor = "
             "lowest doc_id in every tier): 'jaccard' (default) drops "
             "the higher id of every shingle-Jaccard>=0.5 pair (the "
             "corpus_curation PPJoin tier); 'winnow' drops the higher "
             "id of every pair sharing >=2 rare winnowing fingerprints "
             "(the cheapest tier, no shingle index — the "
             "winnow_dup_candidates registered convention; the "
             "min_shared=1 lossless long-span variant is the streaming "
             "admission gate); 'exact' drops only byte-identical texts; "
             "'semdedup' drops every doc on the semantic_dedup "
             "embedding drop list (SemDeDup cluster-scoped cosine; "
             "doc_id == vec_id by the corpus convention)",
    )
    expp.add_argument(
        "--scrub-spans",
        action="store_true",
        help="also remove cross-document duplicated spans from the "
             "exported text (plans/curation.scrub_dup_spans); docs with "
             "at least one removed span are rewritten in tokenize-"
             "normalized form (lowercased, punctuation stripped), "
             "untouched docs keep their original text, and the exported "
             "n_tokens/quality columns and datacard are recomputed on "
             "the shipped text",
    )

    cmpp = sub.add_parser(
        "compact",
        help="fold streamed maintenance output to bound read-side "
             "fan-in: an IVF-PQ index's codes_stream batches into its "
             "base cell partitions, or a sketch target's batch partials "
             "into one dir. Also finishes a crashed compaction "
             "(recovery is automatic and non-destructive).",
    )
    cmpp.add_argument("kind", choices=("index", "sketches"),
                      help="'index': ivfpq_index_compact; "
                           "'sketches': compact_sketch_batches")
    cmpp.add_argument("target", help="index path / sketch target dir")

    zop = sub.add_parser(
        "zorder",
        help="rewrite a parquet table Z-order-clustered on two or more "
             "columns (sources/sinks.write_zordered): range-partition + "
             "sort by the Morton key so parquet footer min/max stats "
             "prune scans on EVERY clustered column, not just a single "
             "sort column",
    )
    zop.add_argument("input", help="source parquet path")
    zop.add_argument("output", help="clustered parquet destination")
    zop.add_argument("--cols", required=True,
                     help="comma-separated numeric columns to interleave, "
                          "e.g. l_partkey,l_suppkey")
    zop.add_argument("--files", type=int, default=16,
                     help="target output file count (range partitions)")

    audp = sub.add_parser(
        "audit",
        help="run the data-quality constraint suite "
             "(plans/maintenance.orders_constraint_audit) and exit "
             "non-zero when any rule fails — the ingest gate form",
    )
    audp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )

    recp = sub.add_parser(
        "reconcile",
        help="Merkle-style diff of two parquet tables: per-partition "
             "row counts + order-independent content digests "
             "(operators/reconcile). Exit 1 when any partition "
             "diverges — only those partitions need re-sync.",
    )
    recp.add_argument("primary", help="primary table parquet path")
    recp.add_argument("replica", help="replica table parquet path")
    recp.add_argument("--partition-col", required=True,
                      help="column whose values define the digest "
                           "partitions (e.g. a date or bucket column)")

    admp = sub.add_parser(
        "admit",
        help="streaming dedup admission: replay a directory of document "
             "parquet files as micro-batches, admitting each batch "
             "against everything already accepted (streaming/ingest)",
    )
    admp.add_argument("input", help="directory of parquet document files")
    admp.add_argument("output", help="accepted-corpus directory")
    admp.add_argument("--checkpoint", default=None,
                      help="checkpoint dir (default: <output>/_checkpoint)")
    admp.add_argument("--threshold", type=float, default=0.5)

    args = p.parse_args(argv)

    from bigdata2016w_spark.registry import all_specs

    specs = all_specs()
    if args.cmd == "list":
        for name, spec in sorted(specs.items()):
            head = (spec.doc or "").strip().splitlines()
            print(f"{name:28s} {'[oracle]' if spec.oracle else '[rows]  '} "
                  f"{head[0] if head else ''}")
        return 0

    if args.cmd == "retrieve":
        from bigdata2016w_spark import get_spark
        from bigdata2016w_spark.operators.retrieval import retrieve
        from bigdata2016w_spark.sources.catalog import load_table

        bad = [t for t in args.rpn.split() if t != t.lower() and t not in ("AND", "OR")]
        if not args.rpn.split() or bad:
            print(f"malformed RPN query {args.rpn!r} (terms are lowercase; "
                  "operators AND/OR)", file=sys.stderr)
            return 2
        spark = get_spark(app_name="cli-retrieve")
        spark.sparkContext.setLogLevel("WARN")
        try:
            hits = retrieve(
                load_table(spark, args.sf_dir, "documents"), args.rpn
            )
        except (ValueError, IndexError) as e:
            print(f"malformed RPN query {args.rpn!r}: {e}", file=sys.stderr)
            return 2
        hits.orderBy("doc_id").show(args.limit, truncate=80)
        return 0

    if args.cmd == "export":
        return _export(args)

    if args.cmd == "reconcile":
        from bigdata2016w_spark import get_spark
        from bigdata2016w_spark.operators.reconcile import (
            default_canon,
            reconcile_digests,
            table_digests,
        )
        from pyspark.sql import functions as F

        spark = get_spark(app_name="cli-reconcile")
        spark.sparkContext.setLogLevel("WARN")
        a = spark.read.parquet(args.primary)
        b = spark.read.parquet(args.replica)
        if sorted(a.columns) != sorted(b.columns):
            print(f"schema mismatch: {sorted(a.columns)} vs "
                  f"{sorted(b.columns)}", file=sys.stderr)
            return 2
        if args.partition_col not in a.columns:
            print(f"unknown partition column {args.partition_col!r}",
                  file=sys.stderr)
            return 2

        def dig(df):
            return table_digests(
                df, F.col(args.partition_col).cast("string"),
                default_canon(df),
            )

        rows = (reconcile_digests(dig(a), dig(b))
                .orderBy("part").collect())
        divergent = 0
        for r in rows:
            mark = "OK  " if r["digests_match"] else "DIFF"
            divergent += 0 if r["digests_match"] else 1
            print(f"{mark} {str(r['part']):20s} primary={r['n_primary']}"
                  f" replica={r['n_replica']}"
                  f" rows_missing={r['rows_missing']}")
        print(f"{len(rows) - divergent}/{len(rows)} partitions match")
        return 1 if divergent else 0

    if args.cmd == "audit":
        from bigdata2016w_spark import get_spark
        from bigdata2016w_spark.plans.maintenance import (
            orders_constraint_audit,
        )

        spark = get_spark(app_name="cli-audit")
        spark.sparkContext.setLogLevel("WARN")
        rows = orders_constraint_audit(spark, args.sf_dir).collect()
        failed = 0
        for r in rows:
            mark = "PASS" if r["passed"] else "FAIL"
            failed += 0 if r["passed"] else 1
            print(f"{mark}  {r['rule']:32s} violations="
                  f"{r['n_violations']}/{r['n_rows']}")
        print(f"{len(rows) - failed}/{len(rows)} rules passed")
        return 1 if failed else 0

    if args.cmd == "compact":
        from bigdata2016w_spark import get_spark

        spark = get_spark(app_name="cli-compact")
        spark.sparkContext.setLogLevel("WARN")
        if args.kind == "index":
            from bigdata2016w_spark.streaming.index_sink import (
                ivfpq_index_compact,
            )

            n = ivfpq_index_compact(spark, args.target)
            print(f"folded {n} streamed code rows into {args.target}/codes")
        else:
            from bigdata2016w_spark.streaming.sketch_sink import (
                compact_sketch_batches,
            )

            n = compact_sketch_batches(spark, args.target)
            print(f"removed {n} batch dirs under {args.target}")
        return 0

    if args.cmd == "zorder":
        from bigdata2016w_spark import get_spark
        from bigdata2016w_spark.sources.sinks import write_zordered

        cols = [c.strip() for c in args.cols.split(",") if c.strip()]
        if len(cols) < 2:
            print("--cols needs at least two columns to interleave",
                  file=sys.stderr)
            return 2
        spark = get_spark(app_name="cli-zorder")
        spark.sparkContext.setLogLevel("WARN")
        df = spark.read.parquet(args.input)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            print(f"columns not in {args.input}: {missing}", file=sys.stderr)
            return 2
        write_zordered(df, args.output, cols, num_files=args.files)
        print(f"z-ordered {args.input} -> {args.output} "
              f"on {','.join(cols)} ({args.files} files)")
        return 0

    if args.cmd == "admit":
        from bigdata2016w_spark import get_spark
        from bigdata2016w_spark.streaming.ingest import dedup_admission_sink

        spark = get_spark(app_name="cli-admit")
        spark.sparkContext.setLogLevel("WARN")
        schema = spark.read.parquet(args.input).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(args.input)
        )
        q = dedup_admission_sink(
            src, args.output,
            args.checkpoint or f"{args.output}/_checkpoint",
            threshold=args.threshold,
        )
        q.awaitTermination()
        from bigdata2016w_spark.streaming.batches import read_batches

        # an empty frame, not PATH_NOT_FOUND, when no batch ever committed
        # (empty input stream)
        n = read_batches(spark, args.output, schema).count()
        print(f"accepted corpus: {n} docs in {args.output}")
        return 0

    if args.query not in specs:
        print(f"unknown query {args.query!r}; `list` shows options",
              file=sys.stderr)
        return 2

    from bigdata2016w_spark import get_spark

    spark = get_spark(app_name=f"cli-{args.query}")
    spark.sparkContext.setLogLevel("WARN")
    df = specs[args.query].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.output:
        from bigdata2016w_spark.sources.sinks import write_parquet

        write_parquet(df, args.output)
        print(f"wrote {args.output}")
        return 0
    df.show(args.limit, truncate=80)
    return 0


def _curated(spark, sf_dir: str, tier: str):
    """(doc_id, n_tokens, quality) after the quality gate + the chosen
    near-dup tier's removal — survivor = lowest doc_id in every tier, so
    the tiers differ only in WHICH pairs they find: 'jaccard' is
    plans/pipeline.corpus_curation verbatim (the PPJoin shingle tier),
    'winnow' uses operators/sketches.winnow_dup_candidates at its
    registered defaults (min_shared=2 — the cheapest tier; the
    min_shared=1 variant that is LOSSLESS for ≥ k+w−1-token shared
    spans is the streaming admission gate, ingest.admit_winnow_batch),
    'exact' keeps only the min doc_id per distinct text
    (operators/dedup.exact_dedup_groups' convention), 'semdedup' IS the
    registered corpus_curation_semdedup query (SemDeDup chained-drop
    convention: removing every dropped_id leaves the lowest id of each
    near-dup chain; doc_id == vec_id — the corpus convention of
    plans/corpus_ext.hybrid_search_rrf). Each tier's survivor set is
    pinned equal to its registered-query derivation in the CLI tests."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.plans.pipeline import (
        corpus_curation,
        corpus_curation_semdedup,
        quality_gated_stats,
    )

    if tier == "jaccard":
        return corpus_curation(spark, sf_dir)
    if tier == "semdedup":
        return corpus_curation_semdedup(spark, sf_dir)

    from bigdata2016w_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    stats = quality_gated_stats(spark, sf_dir)
    if tier == "exact":
        keep = docs.groupBy("text").agg(
            F.min("doc_id").alias("doc_id")
        ).select("doc_id")
        stats = stats.join(keep, "doc_id", "left_semi")
    else:  # winnow
        from bigdata2016w_spark.operators.sketches import (
            winnow_dup_candidates,
        )

        losers = winnow_dup_candidates(docs).select(
            F.col("doc_b").alias("doc_id")
        ).distinct()
        stats = stats.join(losers, "doc_id", "left_anti")
    return stats.select("doc_id", "n_tokens", "quality")


def _export(args) -> int:
    """One-command training-set export — the whole curation pipeline the
    registered queries expose piecewise, run as a single shared-cache job:
    quality filter + near-dup removal (``--dedup`` tier) ∩ deterministic
    80/20 split, joined back to full text, written as train/test parquet
    plus a one-line JSON datacard."""
    import json

    from pyspark.sql import functions as F

    from bigdata2016w_spark import get_spark
    from bigdata2016w_spark.plans.sampling import doc_train_test_split
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_parquet

    spark = get_spark(app_name="cli-export")
    spark.sparkContext.setLogLevel("WARN")
    docs = load_table(spark, args.sf_dir, "documents")
    dedup_tier = getattr(args, "dedup", "jaccard")
    kept = _curated(spark, args.sf_dir, dedup_tier)  # doc_id, n_tokens, quality
    body = docs.select("doc_id", "text", "lang", "source")
    if getattr(args, "scrub_spans", False):
        # swap text for its span-scrubbed form BEFORE the export lands —
        # scrubbing runs on the FULL corpus (ownership must see every
        # doc), the join then keeps only the curated survivors. Only
        # docs that actually lost a span are rewritten (their text is
        # tokenize-normalized by the rebuild); untouched docs keep their
        # original bytes.
        from bigdata2016w_spark.plans.curation import scrub_dup_spans

        scrubbed = scrub_dup_spans(docs).select(
            "doc_id", "n_removed", "scrubbed_text"
        )
        body = (
            body.join(scrubbed, "doc_id")
            .select(
                "doc_id",
                F.when(F.col("n_removed") > 0, F.col("scrubbed_text"))
                .otherwise(F.col("text")).alias("text"),
                "lang", "source",
            )
        )
    tagged = (
        kept.join(doc_train_test_split(spark, args.sf_dir), "doc_id")
        .join(body, "doc_id")
    )
    if getattr(args, "scrub_spans", False):
        # the curation gate ran on pre-scrub quality, but the exported
        # METADATA must describe the shipped text — recompute both
        from bigdata2016w_spark.functions.textstats import quality_col
        from bigdata2016w_spark.functions.tokenizer import tokenize

        # a survivor can be FULLY scrubbed (every token sat in some
        # cross-doc span without any single pair crossing the Jaccard
        # gate) — its quality is 0, never a 0/0 under ANSI mode
        n_tok = F.size(tokenize(F.col("text"))).cast("long")
        tagged = tagged.withColumns({
            "n_tokens": n_tok,
            "quality": F.when(
                n_tok > 0, quality_col(F.col("text"))
            ).otherwise(F.lit(0.0)),
        })
    # one materialization feeds both writes
    tagged = tagged.localCheckpoint(eager=True)
    card = {
        "sf_dir": args.sf_dir,
        "total_docs": docs.count(),
        "dedup": dedup_tier,
        "scrub_spans": bool(getattr(args, "scrub_spans", False)),
    }
    for split in ("train", "test"):
        part = tagged.where(F.col("split") == split).drop("split")
        write_parquet(part, f"{args.output}/{split}")
        agg = part.agg(
            F.count("*").alias("n"),
            F.sum("n_tokens").alias("tok"),
            F.avg("quality").alias("q"),
        ).collect()[0]
        card[split] = {
            "n_docs": agg["n"],
            "n_tokens": int(agg["tok"] or 0),
            "mean_quality": round(float(agg["q"] or 0.0), 4),
        }
    with open(f"{args.output}/datacard.json", "w") as fh:
        json.dump(card, fh)
    print(json.dumps(card))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
