#!/usr/bin/env python3
"""Derive the benchmark's seed corpus statistics from a graft testdata dir.

    python3 perfbench/tools/derive_seed_corpus.py <sf0.1 dir> > perfbench/data/seed_corpus.tsv

The benchmark never reads the testdata tables at run time: it generates
every input from a seed plus this small committed file, which holds the
word frequencies, document-length quantiles and source/lang shares of the
`documents` table. Rerun only to re-derive the file from new tables.
"""
import collections
import sys

import pyarrow.parquet as pq


def main() -> None:
    t = pq.read_table(f"{sys.argv[1]}/documents.parquet",
                      columns=["text", "lang", "source"])
    words = collections.Counter()
    lengths = []
    for text in t.column("text").to_pylist():
        toks = (text or "").split()
        words.update(toks)
        lengths.append(len(toks))
    lengths.sort()
    out = sys.stdout
    out.write("# kind\tkey\tvalue\n")
    for w, c in sorted(words.items(), key=lambda kv: (-kv[1], kv[0])):
        out.write(f"word\t{w}\t{c}\n")
    for q in range(0, 101, 5):
        i = min(len(lengths) - 1, q * len(lengths) // 100)
        out.write(f"doclen_q\t{q}\t{lengths[i]}\n")
    for col in ("lang", "source"):
        for k, c in sorted(collections.Counter(
                t.column(col).to_pylist()).items()):
            out.write(f"{col}\t{k}\t{c}\n")


if __name__ == "__main__":
    main()
