#!/usr/bin/env python3
"""Cross-ENGINE fuzz of the string kernels (strip_html,
canonicalize_url): generate an adversarial corpus, run it through the
Spark Column kernels (graft.tools.KernelDump unary) AND through the
registered DuckDB SQL expressions, and diff row-for-row.

The in-JVM fuzz spec (WebKernelFuzzSpec) validates the Column plumbing
against a java.util.regex model — but the engine IS java.regex, so it
cannot see an RE2 (DuckDB) semantic divergence. This tool can: any
pattern-class, anchor, or empty-match behavior difference between the
two regex dialects on hostile input shows up as a row diff here long
before a fixture would ever exercise it.

Usage: tools/fuzz_kernels.py [n_rows] [seed]
"""
import json, random, shutil, subprocess, sys, tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def gen_corpus(n, seed):
    rng = random.Random(seed)
    html_frags = [
        "<p>", "</p>", '<div class="x">', "<br/>", "< 2;", "<", ">",
        "<script>a < b && c > d</script>", '<script src="x">v=1</script>',
        "<style>.a{}</style>", "<SCRIPT>shout</SCRIPT>", "<unclosed",
        "<script>\nvar nl = 1 < 2;\n</script>", "<style>\n.b{}\n</style>",
        "<script>x</style>", "<style>y</script>", "line\nbreak",
        "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&amp;lt;",
        "&bogus;", "&", "&&amp;", "word", "two  spaces", "\ttab\t",
        "trailing ", " leading", "", "mixed <b>bold</b> text",
        "unicode £€ ∅", "<p attr='a>b'>", "100% <50%",
        "ends with newline\n", "<p>nl</p>\n",
    ]
    url_parts = dict(
        scheme=["http://", "https://", "HTTPS://", "HtTp://", "ftp://", ""],
        www=["www.", "WWW.", ""],
        host=["Example.COM", "a.b.c", "xn--x", "localhost", "127.0.0.1"],
        port=[":443", ":80", ":8080", ""],
        path=["", "/", "/Docs/X", "/ref=abc", "/a%20b", "/UPPER/case",
              "/utm_source"],
        query=["", "?id=1", "?utm_source=f", "?href=x&utm_a=1&id=2",
               "?prefix=keep&ref=drop", "?ref=1&ref=2", "?utm_x=1&utm_y=2",
               "?id=1&", "?&id=2", "?utm_only=z", "??double", "?a=&b=1"],
        # trailing-newline variants: the java-$-vs-RE2-$ divergence the
        # kernels' \z/[\s\S] spellings exist to neutralize
        frag=["", "#f", "#a#b", "#utm_source=not-a-param", "#", "\n", "#f\n"],
    )
    rows = []
    for i in range(n):
        if i % 2 == 0:
            k = 2 + rng.randrange(8)
            rows.append(" ".join(rng.choice(html_frags) for _ in range(k)))
        else:
            rows.append("".join(rng.choice(v) for v in url_parts.values()))
    return rows


def run(n, seed):
    work = Path(tempfile.mkdtemp(prefix="kernel-fuzz-"))
    corpus = gen_corpus(n, seed)
    pq.write_table(pa.table({"s": corpus}), work / "corpus.parquet")

    r = subprocess.run(
        ["sbt", "-batch",
         f"runMain graft.tools.KernelDump unary {work}/corpus.parquet {work}/out"],
        capture_output=True, text=True, cwd=str(REPO))
    if r.returncode != 0:
        print(r.stdout[-2000:], r.stderr[-1000:])
        sys.exit(1)

    sqls = json.loads((work / "out" / "kernel_sql.json").read_text())
    con = duckdb.connect()
    got = con.sql(
        f"SELECT * FROM '{work}/out/results.parquet/*.parquet'").fetchall()
    cols = [d[0] for d in con.sql(
        f"SELECT * FROM '{work}/out/results.parquet/*.parquet' LIMIT 0"
    ).description]
    exprs = ", ".join(f"{sqls[c]} AS {c}" for c in cols if c != "s")
    want = con.sql(
        f"SELECT s, {exprs} FROM '{work}/corpus.parquet'").fetchall()

    # row order: spark coalesce(1) preserves corpus order; duckdb scans
    # the single file in order — compare by input string key to be safe
    got_by_s = {}
    for row in got:
        got_by_s.setdefault(row[0], row)
    n_fail = 0
    for row in want:
        g = got_by_s.get(row[0])
        if g is None or tuple(g) != tuple(row):
            n_fail += 1
            if n_fail <= 5:
                print(f"DIFF on input {row[0]!r}:")
                for c, a, b in zip(cols, g or [], row):
                    if a != b:
                        print(f"  {c}: spark={a!r} duckdb={b!r}")
    print(f"== kernel fuzz: {len(want)} rows, {n_fail} diffs")
    return n_fail


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260814
    work = None
    try:
        n_fail = run(n, seed)
    finally:
        # /tmp may itself be tmpfs — do not squat RAM between runs
        for d in Path(tempfile.gettempdir()).glob("kernel-fuzz-*"):
            shutil.rmtree(d, ignore_errors=True)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
