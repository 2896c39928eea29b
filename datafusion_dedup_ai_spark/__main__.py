"""End-to-end command-line entry point — the reference's batch journey
(engine_test.py:6-30 run_dedup / app.py:80-126 process-all loop, minus the
Streamlit UI), runnable without writing any Python:

    python -m datafusion_dedup_ai_spark INPUT [INPUT ...]
        [--column NAME] [--out DIR] [--hard 0.90] [--soft 0.85]
        [--no-subsidiary-fold] [--order-column NAME]

Per input file (csv/xlsx, format-dispatched like the reference):

1. read it (sources.read_input), auto-detecting the company-name column as
   the first string column when --column is omitted (reference
   engine_test.py:14-16); a file missing the requested column is warned
   about and skipped, not fatal (app.py:91-92);
2. run the full dedup pipeline (plans.pipeline.dedup_pipeline), which
   caches nothing;
3. pull the clusters sheet to the driver with ONE ``toPandas`` — the only
   action on the pipeline's result, a single pass that resolves every
   block — and derive the other sheets from it
   in pandas, as the reference does from its one result frame
   (outputs.py:22-66); write the reference's three workbooks into --out
   (default: the input file's directory, engine_test.py:21-22):
   company_duplicates_final.xlsx (clusters + canonical_summary + settings
   sheets), golden_mapping.xlsx (mapping), high_confidence_review.xlsx
   (review) — with one input the reference's exact filenames, with several
   the per-file names app.py uses (dedup_final_<name>.xlsx, ...);
4. print the stats quadruple (engine_test.py:25-28), derived from the same
   pulled frame.

Each input's Spark jobs carry the description ``dedup <file name>``.

``--order-column``: a unique numeric key making row_order deterministic
without a global sort (mandatory at scale — see operators/blocking.py
prepare_names). Without it, row_order falls back to the name-sorted rank:
correct and deterministic, but a single-partition sort, fine only at
CLI-file scale.

Subcommand — the LLM-pipeline journey (round-10):

    python -m datafusion_dedup_ai_spark curate DOCS.parquet [--out DIR]

runs the oracle-gated clean_corpus -> deterministic split -> manifest
composition over a (doc_id, text) parquet and writes manifest.parquet +
stats.json (see curate_main). Its Spark jobs carry the description
``curate <file name>``.
"""

from __future__ import annotations

import argparse
import os
import sys

# the Spark local property setJobDescription writes
_JOB_DESCRIPTION = "spark.job.description"


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m datafusion_dedup_ai_spark",
        description="Dedupe company names in csv/xlsx files into the "
        "reference's three report workbooks.",
    )
    p.add_argument("inputs", nargs="+", help="input .csv/.xlsx file(s)")
    p.add_argument("--column", help="company-name column (default: first string column)")
    p.add_argument("--out", help="output directory (default: each input's directory)")
    p.add_argument("--hard", type=float, default=0.90, help="hard match threshold")
    p.add_argument("--soft", type=float, default=0.85, help="soft match threshold")
    p.add_argument(
        "--no-subsidiary-fold",
        action="store_true",
        help="disable the subsidiary-suffix folding step",
    )
    p.add_argument(
        "--order-column",
        help="unique numeric key column for deterministic row_order at scale",
    )
    return p


def _build_curate_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m datafusion_dedup_ai_spark curate",
        description="Curate a (doc_id, text) parquet corpus into a training "
        "manifest: quality/language filter -> exact dedup -> near-dup "
        "removal -> deterministic 80/10/10 split -> chunk counts.",
    )
    p.add_argument("docs", help="input parquet with doc_id BIGINT, text STRING")
    p.add_argument(
        "--out",
        help="output directory (default: <docs dir>/curated); writes "
        "manifest.parquet + stats.json",
    )
    p.add_argument(
        "--bpe-tokens",
        action="store_true",
        help="train a BPE piece vocabulary on the input corpus and add "
        "real-tokenizer n_bpe_tokens per doc (token-budget planning "
        "consumes these; whitespace n_tokens is the cheap default)",
    )
    p.add_argument(
        "--near-dup-tier",
        choices=("exact", "minhash"),
        default="exact",
        help="near-dup victim generator: 'exact' (word-bigram Jaccard "
        "self-join — ground truth, quadratic in per-shingle document "
        "frequency) or 'minhash' (LSH candidates + two-phase verify at "
        "the same threshold — the scale tier; recall follows the LSH "
        "S-curve, see clean_corpus_frame)",
    )
    return p


def curate_main(argv: list[str], spark=None) -> int:
    """The LLM-pipeline counterpart of the dedup journey (round-9 verdict
    #8): run the registered clean_corpus -> split -> manifest composition
    (queries_curation.training_manifest_frame, every stage oracle-gated)
    over a user parquet, no Python required. Writes manifest.parquet and a
    per-split stats.json, prints the stats table.

    The per-split totals in stats.json are observed on the manifest write
    (``DataFrame.observe``), so the manifest is never read back;
    ``input_docs`` is one ``docs.count()``, because no single node of the
    manifest plan sees each input row exactly once. The run's Spark jobs
    carry the description ``curate <file name>``."""
    import json

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from datafusion_dedup_ai_spark.queries_curation import (
        SPLITS,
        training_manifest_frame,
    )
    from datafusion_dedup_ai_spark.session import build_session

    args = _build_curate_parser().parse_args(argv)
    owns_session = spark is None
    if owns_session:
        spark = build_session(app_name="curate-cli")
    sc = spark.sparkContext
    prev_description = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setJobDescription(f"curate {os.path.basename(args.docs)}")
    try:
        docs = spark.read.parquet(args.docs)
        missing = {"doc_id", "text"} - set(docs.columns)
        if missing:
            print(
                f"{args.docs}: missing required column(s) {sorted(missing)}",
                file=sys.stderr,
            )
            return 1
        out_dir = args.out or os.path.join(
            os.path.dirname(os.path.abspath(args.docs)), "curated"
        )
        bpe_pieces = None
        if args.bpe_tokens:
            # Train on the input corpus itself (the hash_fixtures shape:
            # word counts -> deterministic count-then-lex merges). The
            # vocabulary-sized collect is the documented driver-side-model
            # exception — Heaps-law-small on any corpus.
            from datafusion_dedup_ai_spark.functions import text as T
            from datafusion_dedup_ai_spark.operators import tokenizer as TK

            wc = (
                docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
                .where(F.col("tok") != "")
                .groupBy("tok")
                .agg(F.count("*").alias("c"))
                .collect()
            )
            bpe_pieces = TK.bpe_vocab_pieces([(r["tok"], r["c"]) for r in wc])
        manifest = training_manifest_frame(
            docs, bpe_pieces=bpe_pieces, near_dup_tier=args.near_dup_tier
        )
        # Per-split totals are counted by the write itself (one conditional
        # sum per split and field), not by re-reading the manifest.
        fields = {"n_docs": "1", "n_tokens": "n_tokens", "n_chunks": "n_chunks"}
        if bpe_pieces is not None:
            fields["n_bpe_tokens"] = "n_bpe_tokens"
        obs = Observation("curate_stats")
        manifest.observe(
            obs,
            *[
                F.expr(f"sum(CASE WHEN split = '{split}' THEN {v} END) AS {split}_{k}")
                for split in SPLITS
                for k, v in fields.items()
            ],
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "manifest.parquet"))
        got = obs.get
        # a split no survivor landed in gets no key, as a groupBy would give
        splits = {
            split: {k: int(got[f"{split}_{k}"]) for k in fields}
            for split in sorted(SPLITS)
            if got[f"{split}_n_docs"]
        }
        stats = {
            "input_docs": docs.count(),
            "kept_docs": sum(s["n_docs"] for s in splits.values()),
            "near_dup_tier": args.near_dup_tier,
            "splits": splits,
        }
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(stats, f, indent=2, sort_keys=True)
        print("\nCuration Complete!")
        print(f"Input Docs: {stats['input_docs']}")
        print(f"Kept Docs: {stats['kept_docs']}")
        for split, s in splits.items():
            print(
                f"  {split}: {s['n_docs']} docs, {s['n_tokens']} tokens, "
                f"{s['n_chunks']} chunks"
            )
        print(f"Manifest written to: {out_dir}")
        return 0
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, prev_description)
        if owns_session:
            spark.stop()


# Reference clusters-sheet projection (outputs.py:23-24) — block_key is
# internal and stays out of the workbook.
SHEET_COLUMNS = [
    "row_order",
    "original_name",
    "normalized_name",
    "base_name",
    "cluster_id",
    "cluster_size",
    "canonical_name",
    "confidence",
    "reason",
]


def _write_reports(clusters, config, out_dir: str, names) -> None:
    """Write the three workbooks for one input and print its stats.

    The clusters sheet is pulled once; every other sheet and the stats are
    pandas derivations of it, each equal to its Spark form in
    plans/pipeline.py (canonical_summary, golden_mapping,
    high_confidence_review, run_stats — pinned by tests/test_cli.py)."""
    import pandas as pd

    from datafusion_dedup_ai_spark.sources.sinks import (
        SETTINGS_COLUMNS,
        settings_rows,
        write_xlsx_bytes,
    )

    sheet = clusters.select(*SHEET_COLUMNS).toPandas()
    # dropna=False keeps a null canonical_name group, as Spark's groupBy does
    summary = (
        sheet.groupby(["cluster_id", "canonical_name"], sort=False, dropna=False)
        .size()
        .reset_index(name="count")
    )
    # pandas turns a null group key into NaN; the sheet writes None as empty
    canon = summary["canonical_name"]
    summary["canonical_name"] = canon.where(canon.notna(), None)
    multi = sheet["cluster_size"] >= 2
    review = multi & (sheet["confidence"] >= 0.95)
    write_xlsx_bytes(
        {
            "clusters": sheet,
            "canonical_summary": summary,
            "settings": pd.DataFrame(settings_rows(config), columns=SETTINGS_COLUMNS),
        },
        out_dir,
        names[0],
    )
    write_xlsx_bytes(
        {"mapping": sheet[["original_name", "canonical_name"]]}, out_dir, names[1]
    )
    write_xlsx_bytes(
        {"review": sheet[review].sort_values("row_order")}, out_dir, names[2]
    )
    print("\nProcessing Complete!")
    print(f"Total Rows: {len(sheet)}")
    print(f"Total Clusters: {sheet['cluster_id'].nunique()}")
    # counts ROWS in size>=2 clusters, the reference's misnomer (run_stats)
    print(f"Multi-record Clusters: {int(multi.sum())}")
    print(f"High-confidence Review Rows: {int(review.sum())}")
    print(f"Reports written to: {out_dir}")


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI body. ``spark``: tests inject their shared session (then it is
    NOT stopped here); the command line builds and owns one."""
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "curate":
        return curate_main(argv[1:], spark)
    args = _build_parser().parse_args(argv)

    from datafusion_dedup_ai_spark.config import DedupConfig
    from datafusion_dedup_ai_spark.plans.pipeline import dedup_pipeline
    from datafusion_dedup_ai_spark.session import build_session
    from datafusion_dedup_ai_spark.sources.readers import (
        first_string_column,
        read_input,
    )

    config = DedupConfig(
        hard_threshold=args.hard,
        soft_threshold=args.soft,
        no_subsidiary_fold=args.no_subsidiary_fold,
    )
    owns_session = spark is None
    if owns_session:
        spark = build_session(app_name="dedup-cli")
    sc = spark.sparkContext
    single = len(args.inputs) == 1
    rc = 0
    try:
        for path in args.inputs:
            stem = os.path.basename(path)
            prev_description = sc.getLocalProperty(_JOB_DESCRIPTION)
            sc.setJobDescription(f"dedup {stem}")
            try:
                print(f"Loading file: {path}")
                df = read_input(spark, path)
                column = args.column or first_string_column(df)
                if column not in df.columns:
                    print(
                        f"Skipping {path}: column {column!r} not found.",
                        file=sys.stderr,
                    )
                    rc = 1
                    continue
                out_dir = args.out or os.path.dirname(os.path.abspath(path))
                os.makedirs(out_dir, exist_ok=True)
                names = (
                    ("company_duplicates_final.xlsx", "golden_mapping.xlsx",
                     "high_confidence_review.xlsx")
                    if single
                    else (f"dedup_final_{stem}.xlsx", f"golden_{stem}.xlsx",
                          f"review_{stem}.xlsx")
                )
                clusters = dedup_pipeline(
                    df, column, config, order_col=args.order_column
                )
                _write_reports(clusters, config, out_dir, names)
            finally:
                sc.setLocalProperty(_JOB_DESCRIPTION, prev_description)
    finally:
        if owns_session:
            spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
