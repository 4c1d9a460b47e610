"""spark-submit entry point.

Deployment mode required by the north star::

    python -m lucene_spark.cli zip out/lucene_spark.zip
    spark-submit --py-files out/lucene_spark.zip \\
        $(python -c 'import lucene_spark.cli as c; print(c.__file__)') \\
        build --input s3://bucket/corpus --index s3://bucket/idx --segments 4096

Subcommands:
  build   read a parquet/Iceberg-style table (repo, path, commit, lang,
          content [, doc_id]) and append it to the index, or resume the
          build named by --build-id
  search  run a classic-syntax query against a committed snapshot
  merge   run tiered merge maintenance to the target tier
  stats   recompute global term stats via the salted token-level job
  delete  tombstone every doc containing a term (liveDocs semantics)
  check   CheckIndex: offline integrity verification of a snapshot
  zip     write the --py-files archive (modules and data tables)

In local runs (no spark-submit) the package auto-ships itself via
``sc.addPyFile`` (see ``session.ensure_shipped``).
"""

from __future__ import annotations

import argparse
import sys

if __package__ in (None, ""):  # spark-submit runs this file as a bare script
    # the package itself arrives via --py-files; only absolute imports work
    import lucene_spark  # noqa: F401
    _PKG = "lucene_spark"
else:
    _PKG = __package__


def _imp(modname: str):
    import importlib
    return importlib.import_module(f"{_PKG}.{modname}")


def _spark(args):
    get_session = _imp("session").get_session
    return get_session(master=args.master, app_name=f"lucene_spark_{args.cmd}",
                       shuffle_partitions=args.shuffle_partitions)


def cmd_build(args) -> int:
    build_index = _imp("operators.build").build_index
    read_corpus = _imp("sources.ingest").read_corpus
    spark = _spark(args)
    # deterministic global docID = rank of the (repo, path, commit) key,
    # assigned scalably (range-partitioned prefix sums — never a global
    # single-partition window)
    df = read_corpus(spark, args.input, fmt=args.format,
                     content_col=args.content_col)
    kw = {}
    if args.english:
        ENGLISH_STOP_WORDS = _imp("functions.analysis").ENGLISH_STOP_WORDS
        kw = {"stopwords": ENGLISH_STOP_WORDS, "stemmer": "porter"}
    snap = build_index(spark, df, args.index, num_segments=args.segments,
                       content_col=args.content_col,
                       build_id=args.build_id, **kw)
    print(f"committed snapshot {snap.snapshot_id}: "
          f"{snap.field_stats['doc_count']} docs, "
          f"{len(snap.seg_ids)} segments")
    return 0


def cmd_search(args) -> int:
    Searcher = _imp("operators.search").Searcher
    spark = _spark(args)
    s = Searcher(spark, args.index, snapshot_id=args.snapshot)
    res = s.search(args.query, k=args.k, mode=args.mode)
    for row in res.collect():
        print(f"{row['rank']:3d}  doc={row['doc_id']:<12d} "
              f"score={row['score']:.6f}")
    return 0


def cmd_merge(args) -> int:
    maintain = _imp("operators.merge").maintain
    spark = _spark(args)
    snap = maintain(spark, args.index, segs_per_tier=args.segs_per_tier,
                    max_merge_at_once=args.max_merge_at_once)
    print(f"snapshot {snap.snapshot_id}: {len(snap.seg_ids)} segments")
    return 0


def cmd_stats(args) -> int:
    term_stats_from_tokens = _imp("operators.stats").term_stats_from_tokens
    spark = _spark(args)
    df = spark.read.parquet(args.input)
    out = term_stats_from_tokens(df, content_col=args.content_col,
                                 salt_buckets=args.salt_buckets)
    out.write.mode("overwrite").parquet(args.output)
    print(f"wrote term stats to {args.output}")
    return 0


def cmd_delete(args) -> int:
    delete_by_term = _imp("operators.delete").delete_by_term
    spark = _spark(args)
    snap = delete_by_term(spark, args.index, args.term)
    print(f"snapshot {snap.snapshot_id}: "
          f"{snap.extra.get('num_deleted', 0)} docs tombstoned")
    return 0


def cmd_suggest(args) -> int:
    mod = _imp("operators.suggest")
    Searcher = _imp("operators.search").Searcher
    spark = _spark(args)
    s = Searcher(spark, args.index)
    if args.spell:
        rows = mod.spell_suggest(s, args.prefix, k=args.k).collect()
        for r in rows:
            print(f"{r['term']:<24s} dist={r['distance']} df={r['df']}")
    elif args.fuzzy:
        rows = mod.fuzzy_suggest(s, args.prefix, k=args.k).collect()
        for r in rows:
            print(f"{r['term']:<24s} weight={r['weight']}")
    elif args.infix:
        rows = mod.infix_suggest(s, args.prefix, k=args.k).collect()
        for r in rows:
            print(f"{r['term']:<24s} weight={r['weight']}")
    else:
        rows = mod.suggest_prefix(s, args.prefix, k=args.k).collect()
        for r in rows:
            print(f"{r['term']:<24s} weight={r['weight']}")
    return 0


def cmd_mlt(args) -> int:
    mod = _imp("operators.mlt")
    Searcher = _imp("operators.search").Searcher
    spark = _spark(args)
    s = Searcher(spark, args.index)
    docs = spark.read.parquet(args.docs)
    res = mod.more_like_this(s, docs, args.doc_id, k=args.k,
                             text_col=args.text_col)
    for row in res.collect():
        print(f"{row['rank']:3d}  doc={row['doc_id']:<12d} "
              f"score={row['score']:.6f}")
    return 0


def cmd_classify(args) -> int:
    mod = _imp("operators.classify")
    Searcher = _imp("operators.search").Searcher
    spark = _spark(args)
    s = Searcher(spark, args.index)
    docs = spark.read.parquet(args.docs)
    labels = docs.selectExpr("doc_id", f"{args.class_col} AS cls")
    inputs = (docs.where(f"doc_id IN ({args.doc_ids})")
              .selectExpr("doc_id AS input_id", f"{args.text_col} AS text"))
    scores = mod.naive_bayes_classify(s, inputs, labels)
    for r in mod.assign_class(scores).orderBy("input_id").collect():
        print(f"doc={r['input_id']:<12d} class={r['cls']:<12s} "
              f"logp={r['score']:.4f}")
    return 0


def cmd_split(args) -> int:
    mod = _imp("operators.merge")
    spark = _spark(args)
    if args.parts:
        outs = [f"{args.out}-part{i}" for i in range(args.parts)]
        snaps = mod.multi_pass_split(spark, args.index, outs)
        for o, sn in zip(outs, snaps):
            print(f"{o}: snapshot {sn.snapshot_id}, "
                  f"{sn.extra.get('num_deleted', 0)} tombstoned")
    else:
        segs = [int(x) for x in args.segments.split(",")]
        sn = mod.split_index(spark, args.index, args.out, segs)
        print(f"{args.out}: snapshot {sn.snapshot_id}, "
              f"segments {sn.seg_ids}")
    return 0


def cmd_check(args) -> int:
    check_index = _imp("operators.checkindex").check_index
    totals = check_index(args.index, snapshot_id=args.snapshot)
    print("CheckIndex OK: " + ", ".join(f"{k}={v}"
                                        for k, v in sorted(totals.items())))
    return 0


def cmd_zip(args) -> int:
    import os
    os.makedirs(os.path.dirname(os.path.abspath(args.out)) or ".",
                exist_ok=True)
    _imp("session").write_package_zip(args.out)
    print(f"wrote {args.out}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="lucene_spark")
    p.add_argument("--master", default=None,
                   help="only for local runs; spark-submit sets the master")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--format", default="parquet",
                   choices=("parquet", "json", "csv"))
    b.add_argument("--index", required=True)
    b.add_argument("--segments", type=int, default=128)
    b.add_argument("--content-col", default="content")
    b.add_argument("--build-id", help="resume key of this build")
    b.add_argument("--english", action="store_true",
                   help="EnglishAnalyzer chain: stop + possessive + Porter")
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--mode", default="auto",
                   choices=["auto", "bmw", "exhaustive"])
    s.add_argument("--snapshot", type=int, default=None)
    s.set_defaults(fn=cmd_search)

    m = sub.add_parser("merge")
    m.add_argument("--index", required=True)
    m.add_argument("--segs-per-tier", type=int, default=10)
    m.add_argument("--max-merge-at-once", type=int, default=10)
    m.set_defaults(fn=cmd_merge)

    st = sub.add_parser("stats")
    st.add_argument("--input", required=True)
    st.add_argument("--output", required=True)
    st.add_argument("--content-col", default="content")
    st.add_argument("--salt-buckets", type=int, default=16)
    st.set_defaults(fn=cmd_stats)

    sg = sub.add_parser("suggest")
    sg.add_argument("--index", required=True)
    sg.add_argument("--prefix", required=True,
                    help="prefix to complete (or word to correct w/ --spell)")
    sg.add_argument("--k", type=int, default=10)
    sg.add_argument("--spell", action="store_true",
                    help="spell-correct instead of prefix completion")
    sg.add_argument("--fuzzy", action="store_true",
                    help="typo-tolerant completion (FuzzySuggester)")
    sg.add_argument("--infix", action="store_true",
                    help="contains-match completion (InfixSuggester)")
    sg.set_defaults(fn=cmd_suggest)

    ml = sub.add_parser("mlt")
    ml.add_argument("--index", required=True)
    ml.add_argument("--docs", required=True,
                    help="parquet path of the source table (stored fields)")
    ml.add_argument("--doc-id", type=int, required=True, dest="doc_id")
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument("--text-col", default="text", dest="text_col")
    ml.set_defaults(fn=cmd_mlt)

    c = sub.add_parser("check")
    c.add_argument("--index", required=True)
    c.add_argument("--snapshot", type=int, default=None)
    c.set_defaults(fn=cmd_check)

    d = sub.add_parser("delete")
    d.add_argument("--index", required=True)
    d.add_argument("--term", required=True)
    d.set_defaults(fn=cmd_delete)

    cl = sub.add_parser("classify")
    cl.add_argument("--index", required=True)
    cl.add_argument("--docs", required=True)
    cl.add_argument("--doc-ids", dest="doc_ids", required=True,
                    help="comma-separated doc ids to classify")
    cl.add_argument("--class-col", dest="class_col", default="lang")
    cl.add_argument("--text-col", dest="text_col", default="text")
    cl.add_argument("--master", default="local[*]")
    cl.set_defaults(fn=cmd_classify)

    sp = sub.add_parser("split")
    sp.add_argument("--index", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--segments", default=None,
                    help="comma-separated seg ids (IndexSplitter mode)")
    sp.add_argument("--parts", type=int, default=None,
                    help="N round-robin parts (MultiPassIndexSplitter)")
    sp.add_argument("--master", default="local[*]")
    sp.set_defaults(fn=cmd_split)

    z = sub.add_parser("zip")
    z.add_argument("out")
    z.set_defaults(fn=cmd_zip)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
