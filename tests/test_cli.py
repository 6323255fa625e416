"""CLI surface: console-line parser parity with the reference REPL parser
(/root/reference/search.py:608-668) and an end-to-end console session."""

from __future__ import annotations

import pytest

from wise_spark.cli import main, parse_console_input


def test_parse_scalar_and_list_args():
    spec = parse_console_input('--query "spark merge" --mode any --topk 5')
    assert spec == {"query": ["spark merge"], "mode": "any", "topk": ["5"]}


def test_parse_repeated_query_appends():
    spec = parse_console_input('--query "spark" --query "merge window"')
    assert spec["query"] == ["spark", "merge window"]


def test_parse_value_runs_until_next_dashdash():
    # the reference scans values to the next '--', not the next space
    spec = parse_console_input("--not-query vector index stuff --topk 3")
    assert spec["not_query"] == "vector index stuff"
    assert spec["topk"] == ["3"]


def test_parse_scalar_strips_quotes_for_blocklist():
    """A quoted --not-query "secret term" must parse WITHOUT the quotes —
    the quoted form used to evade the blocklist comparison while the
    tokenizer ran the blocked query anyway."""
    spec = parse_console_input('--query foo --not-query "secret term"')
    assert spec["not_query"] == "secret term"


def test_parse_trailing_bare_flag_and_dash_mapping():
    # trailing '--flag' with no value -> '' ; '-' in names maps to '_'
    assert parse_console_input("--save-to-file") == {"save_to_file": ""}
    assert parse_console_input("--query")["query"] == [""]


def test_parse_strips_quotes_only_on_list_args():
    spec = parse_console_input('--query " padded "  --mode  all ')
    assert spec["query"] == ["padded"]
    assert spec["mode"] == "all"


@pytest.fixture(scope="module")
def cli_index_dir(spark, corpus_sdf, tmp_path_factory):
    from wise_spark.index import build_index

    d = str(tmp_path_factory.mktemp("cli_idx"))
    build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4, n_waves=1)
    return d


def test_console_repl_end_to_end(spark, cli_index_dir, tmp_path, monkeypatch, capsys):
    out_csv = tmp_path / "res.csv"
    lines = iter([
        "",                                              # blank -> re-prompt
        "--topk 3",                                      # no query -> stderr note
        '--query "nababa pebaba" --mode any --topk 3',
        f'--query nababa --mode any --topk 2 --save-to-file {out_csv}',
    ])
    # iterator exhaustion raises StopIteration, not EOFError — map it
    def fake_input(prompt=""):
        try:
            return next(lines)
        except StopIteration:
            raise EOFError
    monkeypatch.setattr("builtins.input", fake_input)
    rc = main(["console", "--index-dir", cli_index_dir, "--no-cache"])
    assert rc == 0
    captured = capsys.readouterr()
    assert "no --query given" in captured.err
    assert "Bye" in captured.out
    # the 3-hit query printed rank,doc_id,score rows numbered by cmd_id
    hit_rows = [
        ln for ln in captured.out.splitlines() if ln.startswith("0,")
    ]
    assert len(hit_rows) == 3
    # CSV export from the second query
    body = out_csv.read_text().splitlines()
    assert body[0] == "query,rank,doc_id,score"
    assert len(body) == 3  # header + topk 2


def test_console_bad_topk_and_mode_reprompt(spark, cli_index_dir, monkeypatch,
                                            capsys):
    # a typo in --topk or --mode must re-prompt, not kill the session
    lines = iter([
        '--query nababa --topk three',
        '--query nababa --mode sometimes',
        '--query nababa --mode all --topk 1',
    ])

    def fake_input(prompt=""):
        try:
            return next(lines)
        except StopIteration:
            raise EOFError
    monkeypatch.setattr("builtins.input", fake_input)
    rc = main(["console", "--index-dir", cli_index_dir, "--no-cache"])
    assert rc == 0
    captured = capsys.readouterr()
    assert "invalid --topk 'three'" in captured.err
    assert "invalid --mode 'sometimes'" in captured.err
    # the third (valid) line still ran; invalid lines re-prompt WITHOUT
    # burning a cmd_id, so the first successful command is still id 0
    assert any(ln.startswith("0,") for ln in captured.out.splitlines())


def test_console_blocklist(spark, cli_index_dir, tmp_path, monkeypatch, capsys):
    bl = tmp_path / "bl.txt"
    bl.write_text("nababa\n")
    lines = iter(['--query "nababa" --topk 2'])

    def fake_input(prompt=""):
        try:
            return next(lines)
        except StopIteration:
            raise EOFError
    monkeypatch.setattr("builtins.input", fake_input)
    rc = main(["console", "--index-dir", cli_index_dir, "--no-cache",
               "--blocklist", str(bl)])
    assert rc == 0
    assert "BLOCKED" in capsys.readouterr().err


def test_build_with_text_col_extracted_text(spark, tmp_path, capsys):
    """--html-col with --text-col extracted_text used to DROP the freshly
    extracted column (it matched `text_col in docs.columns`) and then
    no-op-rename it, so build_index failed on a missing column."""
    src = str(tmp_path / "corpus_parquet")
    spark.createDataFrame(
        [(i, f"u{i}", bytearray(f"<html><body>alpha beta gamma doc {i}"
                                f"</body></html>", "utf8"))
         for i in range(6)],
        "doc_id long, url string, html binary",
    ).write.parquet(src)
    idx = str(tmp_path / "idx")
    rc = main([
        "build", "--input", src, "--index-dir", idx,
        "--html-col", "html", "--text-col", "extracted_text",
        "--url-col", "url", "--n-shards", "2", "--n-waves", "1",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "built: N=6" in out


def test_build_without_n_waves_keeps_library_auto_sizing(spark, tmp_path, capsys):
    """`build` without --n-waves must leave the wave count to build_index's
    auto-sizing (one wave below ~20M docs), not force a fixed count that
    multiplies Stage C's per-wave fixed costs on a small corpus."""
    import json
    import os

    src = str(tmp_path / "corpus_parquet")
    spark.createDataFrame(
        [(i, f"u{i}", f"alpha beta gamma doc {i}") for i in range(8)],
        "doc_id long, url string, text string",
    ).write.parquet(src)
    idx = str(tmp_path / "idx")
    rc = main(["build", "--input", src, "--index-dir", idx,
               "--url-col", "url", "--n-shards", "4"])
    assert rc == 0
    assert "built: N=8" in capsys.readouterr().out
    with open(os.path.join(idx, "layout.json")) as f:
        assert json.load(f)["params"]["n_waves"] == 1
