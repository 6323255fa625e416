"""CLI mirroring the reference's entry points on Spark:

  build   — extract-features.py + create-index.py in one staged, resumable
            job (/root/reference/extract-features.py, create-index.py)
  search  — search.py's `--query Q [--not-query Q2] [--queries-from f.csv]
            [--export out] [--topk K]` surface
            (/root/reference/search.py:670-768), incl. the blocklist file
            (/root/reference/serve.py:33-42) and the reference CSV export
            header analog (query,rank,doc_id,score).

Run via spark-submit --py-files wise_spark.zip, or plain python (the session
helper ships the package itself):

  python -m wise_spark.cli build  --input /data/corpus --index-dir /data/idx
  python -m wise_spark.cli search --index-dir /data/idx --query "foo bar" \\
      --not-query "baz" --topk 20 --export /tmp/out_csv
"""

from __future__ import annotations

import argparse
import csv
import sys
import time


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="Spark master (default: inherit)")
    p.add_argument("--shuffle-partitions", type=int, default=32)


def _read_blocklist(path: str | None) -> set[str]:
    """The blocked queries in `path`, one per line (empty set: no blocklist)."""
    if not path:
        return set()
    with open(path) as f:
        return {ln.strip() for ln in f if ln.strip()}


def cmd_build(args) -> int:
    from .index import build_index
    from .session import get_spark
    from .sources import ingest_html, read_corpus

    spark = get_spark(args.master, "wise_build", args.shuffle_partitions)
    docs = read_corpus(spark, args.input, args.format)
    if args.html_col:
        # url-dedup needs a timestamp to pick the newest capture; a corpus
        # without one should still build (dedup skipped with a note), not
        # die on UNRESOLVED_COLUMN at the quarantine count
        dedup = args.ts_col in docs.columns
        if not dedup:
            print(
                f"note: no {args.ts_col!r} column — skipping url dedup "
                "(pass --ts-col to name the capture-timestamp column)",
                file=sys.stderr,
            )
        res = ingest_html(
            docs, html_col=args.html_col, url_col=args.id_col,
            ts_col=args.ts_col, dedup_urls=dedup,
        )
        n_bad = res.quarantine.count()
        print(f"quarantined rows: {n_bad}", file=sys.stderr)
        # the source may carry its own text column; the extracted one wins —
        # renamed to whatever --text-col names so build_index below indexes
        # the EXTRACTED text, never a raw source column
        docs = res.docs
        # when --text-col IS 'extracted_text', dropping it would delete the
        # extraction output itself and the rename below would be a no-op
        if args.text_col != "extracted_text" and args.text_col in docs.columns:
            docs = docs.drop(args.text_col)
        docs = docs.withColumnRenamed("extracted_text", args.text_col)
    meta = build_index(
        docs,
        args.index_dir,
        id_col=args.id_col,
        text_col=args.text_col,
        url_col=args.url_col,
        n_shards=args.n_shards,
        n_waves=args.n_waves,
    )
    print(
        f"built: N={meta.n_docs} avgdl={meta.avgdl:.2f} terms={meta.n_terms} "
        f"shards={meta.n_shards} -> {args.index_dir}"
    )
    return 0


def cmd_search(args) -> int:
    from .index import FtsIndex
    from .query.search import BlockedQueryError, export_csv, ranked, search
    from .session import get_spark

    spark = get_spark(args.master, "wise_search", args.shuffle_partitions)
    idx = FtsIndex.load(spark, args.index_dir, cache=not args.no_cache)
    blocklist = _read_blocklist(args.blocklist)

    queries: list[tuple[str, str]] = []
    if args.queries_from:
        with open(args.queries_from) as f:
            for row in csv.DictReader(f):
                queries.append((row["query_id"], row["query_text"]))
    if args.query:
        queries.append(("q0", args.query))
    if not queries:
        print("no query given (--query or --queries-from)", file=sys.stderr)
        return 2

    rc = 0
    for qid, qtext in queries:
        t0 = time.time()
        try:
            res = search(
                idx.score_all, qtext, k=args.topk, mode=args.mode,
                not_query=args.not_query, blocklist=blocklist,
            )
            if args.hydrate:
                res = ranked(idx.hydrate(res), k=args.topk)
            if args.export:
                # pin the (<= topk rows) result: collect() below materializes
                # the checkpoint and export_csv reuses it instead of
                # re-running the whole scoring plan a second time
                res = res.localCheckpoint(eager=False)
            rows = res.collect()
        except BlockedQueryError as e:
            print(f"{qid}: BLOCKED ({e})", file=sys.stderr)
            rc = 3
            continue
        dt = time.time() - t0
        print(f"# {qid} '{qtext}' -> {len(rows)} hits in {dt:.3f}s")
        for r in rows:
            url = f",{r['url']}" if "url" in r.asDict() else ""
            print(f"{qid},{r['rank']},{r['doc_id']}{url},{r['score']!r}")
        if args.export:
            export_csv(res.select("doc_id", "score", "rank"), f"{args.export}/{qid}", qid)
    return rc


CONSOLE_LIST_ARGS = ("query", "topk")  # reference list_args minus media types


def parse_console_input(cmd: str) -> dict:
    """Parse one console line of `--name value ...` tokens into a dict —
    the engine analog of the reference console parser
    (/root/reference/search.py:608-668 parse_user_input): a value runs
    until the next `--`; list-valued args (`query`, `topk` — the reference
    also lists media types we don't have) append; every value (list or
    scalar) is stripped of surrounding spaces and double quotes;
    a trailing bare `--flag` yields ''; `-` in names maps to `_`."""
    out: dict = {}
    i, n = 0, len(cmd)
    name: str | None = None
    while i < n:
        dd = cmd.find("--", i)
        if name is None:
            if dd == -1:
                break
            sp = cmd.find(" ", dd + 2)
            name = (cmd[dd + 2:] if sp == -1 else cmd[dd + 2:sp]).strip().replace("-", "_")
            i = n if sp == -1 else sp
            continue
        nxt = cmd.find("--", i)
        value = cmd[i:] if nxt == -1 else cmd[i:nxt]
        if name in CONSOLE_LIST_ARGS:
            out.setdefault(name, []).append(value.strip(' "'))
        else:
            # scalars strip quotes too: a quoted --not-query "secret term"
            # must not evade the blocklist comparison (the tokenizer would
            # discard the quotes and run the blocked query anyway)
            out[name] = value.strip(' "')
        name = None
        i = n if nxt == -1 else nxt
    if name is not None:
        out[name] = [""] if name in CONSOLE_LIST_ARGS else ""
    return out


def cmd_console(args) -> int:
    """Interactive search console (REPL) — the reference's Case-3 search
    console (/root/reference/search.py:952-992): prompt `[N] > `, each line
    re-parsed as `--query Q [--query Q2] [--not-query Q3] [--mode M]
    [--topk K] [--save-to-file f.csv]` overriding the session defaults; two
    queries AND-merge (the reference's merge1 on a 2-query line); Ctrl-D /
    Ctrl-C exits with 'Bye'."""
    from .index import FtsIndex
    from .query.search import (
        BlockedQueryError, and_merge, check_blocklist, ranked, subtract,
    )
    from .session import get_spark

    spark = get_spark(args.master, "wise_console", args.shuffle_partitions)
    idx = FtsIndex.load(spark, args.index_dir, cache=not args.no_cache)
    blocklist = _read_blocklist(args.blocklist)
    print("Starting wise_spark search console ... (press Ctrl + D to exit)")
    print('example: --query "spark merge" --mode any --topk 5')
    cmd_id = 0
    while True:
        try:
            line = input(f"[{cmd_id}] > ")
        except (EOFError, KeyboardInterrupt):
            print("\nBye")
            return 0
        if not line.strip():
            continue
        spec = parse_console_input(line)
        queries = [q for q in spec.get("query", []) if q]
        if not queries:
            print("no --query given", file=sys.stderr)
            continue
        try:
            topk = int(spec["topk"][-1]) if spec.get("topk") else args.topk
        except ValueError:
            # a typo must re-prompt, not kill the session (reference
            # search.py's console loop swallows per-line errors the same way)
            print(f"invalid --topk {spec['topk'][-1]!r}: not an integer",
                  file=sys.stderr)
            continue
        mode = spec.get("mode", args.mode)
        if isinstance(mode, list):
            mode = mode[-1]
        if mode not in ("any", "all"):
            print(f"invalid --mode {mode!r}: use any|all", file=sys.stderr)
            continue
        t0 = time.time()
        try:
            for q in queries + ([spec["not_query"]] if spec.get("not_query") else []):
                check_blocklist(q, blocklist)
            hits = idx.score_all(queries[0], mode)
            for q in queries[1:]:
                hits = and_merge(hits, idx.score_all(q, mode))
            if spec.get("not_query"):
                hits = subtract(hits, idx.score_all(spec["not_query"], mode))
            rows = ranked(hits, k=topk).collect()
        except BlockedQueryError as e:
            print(f"BLOCKED ({e})", file=sys.stderr)
            continue
        print(f"# {len(rows)} hits in {time.time() - t0:.3f}s")
        lines = [f"{cmd_id},{r['rank']},{r['doc_id']},{r['score']!r}" for r in rows]
        if spec.get("save_to_file"):
            with open(spec["save_to_file"], "w") as f:
                f.write("query,rank,doc_id,score\n")
                f.write("".join(ln + "\n" for ln in lines))
            print(f"wrote {len(lines)} rows to {spec['save_to_file']}")
        else:
            for ln in lines:
                print(ln)
        cmd_id += 1


def cmd_serve(args) -> int:
    """HTTP serving surface — the reference's FastAPI app analog
    (/root/reference/api/routes.py: /search at 1210-1254, /media at
    142-241), as a stdlib server over the loaded index (wise_spark.serve)."""
    from .index import FtsIndex
    from .serve import SearchServer, parquet_media_resolver, spark_search_fn
    from .session import get_spark

    spark = get_spark(args.master, "wise_serve", args.shuffle_partitions)
    idx = FtsIndex.load(spark, args.index_dir, cache=not args.no_cache)
    blocklist = _read_blocklist(args.blocklist)
    resolver = None
    if args.media_table:
        resolver = parquet_media_resolver(
            spark, args.media_table, args.media_location or "")
    srv = SearchServer(
        spark_search_fn(idx, hydrate=not args.no_hydrate),
        media_resolver=resolver,
        blocklist=blocklist,
        corpus_size=idx.meta.n_docs,
        host=args.host, port=args.port,
    )
    port = srv.start()
    print(f"serving on http://{args.host}:{port} "
          f"(/search?q=...&start=0&end=20, /media/<id>)", flush=True)
    try:
        import threading
        threading.Event().wait()
    except KeyboardInterrupt:
        pass
    finally:
        srv.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="wise_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    b.add_argument("--index-dir", required=True)
    b.add_argument("--id-col", default="doc_id")
    b.add_argument("--text-col", default="text")
    b.add_argument("--url-col", default=None)
    b.add_argument("--html-col", default=None, help="extract text from this binary column first")
    b.add_argument("--ts-col", default="warc_ts",
                   help="capture-timestamp column for url dedup (dedup is "
                        "skipped with a note when the column is absent)")
    b.add_argument("--n-shards", type=int, default=None)
    b.add_argument("--n-waves", type=int, default=None)
    _add_common(b)
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search", help="top-k BM25 search")
    s.add_argument("--index-dir", required=True)
    s.add_argument("--query", default=None)
    s.add_argument("--not-query", default=None, help="NOT-IN subtract query")
    s.add_argument("--queries-from", default=None, help="CSV: query_id,query_text")
    s.add_argument("--mode", default="all", choices=["all", "any"])
    s.add_argument("--topk", type=int, default=10)
    s.add_argument("--export", default=None, help="export dir for per-query CSV")
    s.add_argument("--blocklist", default=None, help="file with one blocked query per line")
    s.add_argument("--hydrate", action="store_true", help="join url/doclen metadata")
    s.add_argument("--no-cache", action="store_true")
    _add_common(s)
    s.set_defaults(fn=cmd_search)

    c = sub.add_parser("console", help="interactive search console (REPL)")
    c.add_argument("--index-dir", required=True)
    c.add_argument("--mode", default="all", choices=["all", "any"])
    c.add_argument("--topk", type=int, default=10)
    c.add_argument("--blocklist", default=None)
    c.add_argument("--no-cache", action="store_true")
    _add_common(c)
    c.set_defaults(fn=cmd_console)

    v = sub.add_parser("serve", help="HTTP /search + /media byte-range server")
    v.add_argument("--index-dir", required=True)
    v.add_argument("--host", default="127.0.0.1")
    v.add_argument("--port", type=int, default=8000)
    v.add_argument("--blocklist", default=None)
    v.add_argument("--media-table", default=None,
                   help="parquet of (media_id, path, media_type, format)")
    v.add_argument("--media-location", default=None,
                   help="root dir prefixed to media paths")
    v.add_argument("--no-hydrate", action="store_true")
    v.add_argument("--no-cache", action="store_true")
    _add_common(v)
    v.set_defaults(fn=cmd_serve)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
