#!/usr/bin/env python3
"""Cross-ENGINE fuzz of the string-similarity pair kernels (jaro,
jaro-winkler, damerau-levenshtein, char-jaccard, hamming, and graft's
lev_bytes — NOT Spark's builtin levenshtein, which walks code points
where DuckDB walks bytes and legitimately diffs on every multibyte
pair; lev_bytes exists because this tool proved that): generate
adversarial string pairs,
run them through the Spark Catalyst expressions (graft.tools.KernelDump pair)
AND through DuckDB's builtins of the same name, and diff row-for-row.

The pair generator is edit-shaped: identical strings, single
transpositions (the Damerau discriminator), shared prefixes of every
length 0-6 (the Winkler boost band), equal-length substitution pairs
(the hamming domain), multibyte UTF-8 (byte-vs-char orientation), and
unrelated random words. Doubles are compared bit-for-bit.

Usage: tools/fuzz_string_sim.py [n_rows] [seed]
"""
import json, random, shutil, subprocess, sys, tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ALPHABET = "abcdefgABC0189 _-£€ü∅"


def word(rng, lo=0, hi=14):
    n = rng.randrange(lo, hi + 1)
    return "".join(rng.choice(ALPHABET) for _ in range(n))


def perturb(rng, a):
    """One of: transpose, substitute, insert, delete, dup-block."""
    if not a:
        return rng.choice(["", "x"])
    k = rng.randrange(len(a))
    op = rng.randrange(5)
    if op == 0 and len(a) >= 2:
        k = min(k, len(a) - 2)
        return a[:k] + a[k + 1] + a[k] + a[k + 2:]
    if op == 1:
        return a[:k] + rng.choice(ALPHABET) + a[k + 1:]
    if op == 2:
        return a[:k] + rng.choice(ALPHABET) + a[k:]
    if op == 3:
        return a[:k] + a[k + 1:]
    return a[:k] + a[k:k + 3] + a[k:]


def gen_pairs(n, seed):
    rng = random.Random(seed)
    pairs = []
    for i in range(n):
        mode = i % 6
        a = word(rng)
        if mode == 0:          # identical (incl. empty-empty)
            b = a
        elif mode == 1:        # 1-3 stacked edits
            b = a
            for _ in range(1 + rng.randrange(3)):
                b = perturb(rng, b)
        elif mode == 2:        # shared prefix 0-6 + fresh tails
            p = word(rng, 0, 6)
            a, b = p + word(rng, 0, 8), p + word(rng, 0, 8)
        elif mode == 3:        # equal CHAR length (hamming char/byte trap)
            a = word(rng, 1, 10)
            b = "".join(rng.choice(ALPHABET) if rng.random() < 0.4 else c
                        for c in a)
        elif mode == 4:        # adjacent-transposition chains
            b = list(a)
            for k in range(0, len(b) - 1, 2):
                if rng.random() < 0.5:
                    b[k], b[k + 1] = b[k + 1], b[k]
            b = "".join(b)
        else:                  # unrelated
            b = word(rng)
        pairs.append((a, b))
    return pairs


def run(n, seed):
    work = Path(tempfile.mkdtemp(prefix="stringsim-fuzz-"))
    pairs = gen_pairs(n, seed)
    pq.write_table(pa.table({
        "id": list(range(len(pairs))),
        "a": [p[0] for p in pairs],
        "b": [p[1] for p in pairs],
    }), work / "corpus.parquet")

    r = subprocess.run(
        ["sbt", "-batch",
         f"runMain graft.tools.KernelDump pair {work}/corpus.parquet {work}/out"],
        capture_output=True, text=True, cwd=str(REPO))
    if r.returncode != 0:
        print(r.stdout[-2000:], r.stderr[-1000:])
        sys.exit(1)

    sqls = json.loads((work / "out" / "kernel_sql.json").read_text())
    con = duckdb.connect()
    got = con.sql(
        f"SELECT * FROM '{work}/out/results.parquet/*.parquet' ORDER BY id"
    ).fetchall()
    cols = [d[0] for d in con.sql(
        f"SELECT * FROM '{work}/out/results.parquet/*.parquet' LIMIT 0"
    ).description]
    exprs = ", ".join(f"{sqls[c]} AS {c}" for c in cols if c not in ("id", "a", "b"))
    want = con.sql(
        f"SELECT id, a, b, {exprs} FROM '{work}/corpus.parquet' ORDER BY id"
    ).fetchall()

    n_fail = 0
    for g, w in zip(got, want):
        if tuple(g) != tuple(w):
            n_fail += 1
            if n_fail <= 5:
                print(f"DIFF on pair ({w[1]!r}, {w[2]!r}):")
                for c, x, y in zip(cols, g, w):
                    if x != y:
                        print(f"  {c}: spark={x!r} duckdb={y!r}")
    print(f"== string-sim fuzz: {len(want)} pairs, {n_fail} diffs")
    return n_fail


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260815
    try:
        n_fail = run(n, seed)
    finally:
        for d in Path(tempfile.gettempdir()).glob("stringsim-fuzz-*"):
            shutil.rmtree(d, ignore_errors=True)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
